"""PDF standard-security-handler crypto: RC4, AES and the standard
security handler's key derivation, both directions. Everything here is
the PUBLIC spec (ISO 32000-1:2008 §7.6 / ISO 32000-2 §7.6.4) plus
FIPS-197 (AES) — no code from the reference, which never reads PDFs
back at all (it only shells out to gs/tesseract, ref:
pypdfocr/pypdfocr_pdf.py).

No entry point imports this module and no PDF reader in the package
calls it any more; only its unit tests do. It is on the reachability
allowlist and ROADMAP §1 schedules its deletion.

Scope — the crawl-relevant population: the *standard* security handler
with an EMPTY USER PASSWORD (DRM-style "encrypted but openable", the
overwhelmingly common case in web corpora; a password the archive does
not have cannot be supplied at 10^12-doc scale anyway):

- R2 (V1, RC4-40) and R3 (V2, RC4 ≤128) — Algorithms 2/4/5,
- R4 (V4 crypt filters: /V2 RC4 or /AESV2 AES-128-CBC, per-object keys
  salted with ``sAlT``),
- R5/R6 (V5, /AESV3 AES-256-CBC, SHA-2 key derivation; R6 adds the
  Algorithm-2.B hardened hash loop) — the Acrobat 9/X+ layouts.

A caller-supplied non-empty user password is honored too (the same
algorithms); a password that fails the /U check raises ``ValueError``
rather than silently mis-decrypting.

Primitives are implemented here, not imported: RC4 is a 30-line
byte-state loop (keystream generation is inherently sequential — the
legacy path; real crawl PDFs since ~2008 are AES). AES is vectorized
with numpy ACROSS blocks — SubBytes/ShiftRows/MixColumns are table
lookups and index permutations over an (n_blocks, 16) array, so
CBC *decryption* (where every block's cipher input is independent and
the chaining XOR is a post-pass) runs all blocks per round in parallel.
CBC encryption chains block-to-block and is used only by
``StandardEncryptor`` and the R6 hash loop. The S-box and GF(2^8)
multiply tables are *generated* at import from the FIPS-197
definitions (Rijndael field x^8+x^4+x^3+x+1, affine transform) rather
than pasted as literals.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

# ---------------------------------------------------------------------------
# RC4 (legacy V1/V2 handlers and /V2 crypt filters)
# ---------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES (FIPS-197), numpy-vectorized across blocks
# ---------------------------------------------------------------------------


def _build_aes_tables():
    """Generate the S-box from the field definition: multiplicative
    inverse in GF(2^8) mod x^8+x^4+x^3+x+1, then the affine transform
    b ^= rot(b,1)^rot(b,2)^rot(b,3)^rot(b,4) ^ 0x63."""
    # exp/log tables over generator 3
    exp = np.zeros(256, dtype=np.uint8)
    log = np.zeros(256, dtype=np.int32)
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        # multiply by 3 = x ^ xtime(x)
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
        x &= 0xFF
    exp_full = np.concatenate([exp[:255], exp[:255]])  # wraparound index

    def gf_mul(a: int, b: int) -> int:
        if a == 0 or b == 0:
            return 0
        return int(exp_full[log[a] + log[b]])

    sbox = np.zeros(256, dtype=np.uint8)
    for v in range(256):
        inv = 0 if v == 0 else int(exp[(255 - log[v]) % 255])
        r = inv
        acc = inv
        for _ in range(4):
            r = ((r << 1) | (r >> 7)) & 0xFF
            acc ^= r
        sbox[v] = acc ^ 0x63
    inv_sbox = np.zeros(256, dtype=np.uint8)
    inv_sbox[sbox] = np.arange(256, dtype=np.uint8)

    mul = {}
    for c in (2, 3, 9, 11, 13, 14):
        mul[c] = np.array([gf_mul(c, v) for v in range(256)], dtype=np.uint8)
    return sbox, inv_sbox, mul


_SBOX, _INV_SBOX, _MUL = _build_aes_tables()

# ShiftRows as a flat permutation of the 16-byte state. State byte order
# is column-major (s[r][c] = flat[r + 4c], FIPS-197 §3.4): row r rotates
# left by r, so out[r+4c] = in[r + 4((c+r) % 4)].
_SHIFT = np.array(
    [(i % 4) + 4 * (((i // 4) + (i % 4)) % 4) for i in range(16)], dtype=np.int64
)
_INV_SHIFT = np.zeros(16, dtype=np.int64)
_INV_SHIFT[_SHIFT] = np.arange(16)


def _key_expand(key: bytes) -> np.ndarray:
    """FIPS-197 §5.2 key expansion → (rounds+1, 16) uint8. Round-key
    words fill the state column-major, which is exactly their byte
    order, so each round key is 16 consecutive expanded bytes."""
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [int(_SBOX[b]) for b in t]
            t[0] ^= rcon
            rcon = (rcon << 1) ^ (0x11B if rcon & 0x80 else 0)
            rcon &= 0xFF
        elif nk == 8 and i % nk == 4:
            t = [int(_SBOX[b]) for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    flat = bytes(b for word in w for b in word)
    return np.frombuffer(flat, dtype=np.uint8).reshape(nr + 1, 16)


def _mix_columns(st: np.ndarray, inverse: bool) -> np.ndarray:
    """(n, 16) state → MixColumns over every block at once. Columns are
    flat[4c:4c+4] (column-major layout), i.e. reshape (n, 4, 4)[n, c, r]."""
    a = st.reshape(-1, 4, 4)
    r0, r1, r2, r3 = a[:, :, 0], a[:, :, 1], a[:, :, 2], a[:, :, 3]
    out = np.empty_like(a)
    if not inverse:
        m2, m3 = _MUL[2], _MUL[3]
        out[:, :, 0] = m2[r0] ^ m3[r1] ^ r2 ^ r3
        out[:, :, 1] = r0 ^ m2[r1] ^ m3[r2] ^ r3
        out[:, :, 2] = r0 ^ r1 ^ m2[r2] ^ m3[r3]
        out[:, :, 3] = m3[r0] ^ r1 ^ r2 ^ m2[r3]
    else:
        m9, m11, m13, m14 = _MUL[9], _MUL[11], _MUL[13], _MUL[14]
        out[:, :, 0] = m14[r0] ^ m11[r1] ^ m13[r2] ^ m9[r3]
        out[:, :, 1] = m9[r0] ^ m14[r1] ^ m11[r2] ^ m13[r3]
        out[:, :, 2] = m13[r0] ^ m9[r1] ^ m14[r2] ^ m11[r3]
        out[:, :, 3] = m11[r0] ^ m13[r1] ^ m9[r2] ^ m14[r3]
    return out.reshape(-1, 16)


def aes_encrypt_blocks(key: bytes, data: bytes) -> bytes:
    """ECB-encrypt every 16-byte block of ``data`` (len % 16 == 0),
    all blocks vectorized per round."""
    if len(data) % 16:
        raise ValueError("AES block data must be a multiple of 16 bytes")
    rk = _key_expand(key)
    nr = rk.shape[0] - 1
    st = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16).copy()
    st ^= rk[0]
    for rnd in range(1, nr):
        st = _SBOX[st][:, _SHIFT]
        st = _mix_columns(st, inverse=False)
        st ^= rk[rnd]
    st = _SBOX[st][:, _SHIFT]
    st ^= rk[nr]
    return st.tobytes()


def aes_decrypt_blocks(key: bytes, data: bytes) -> bytes:
    """ECB-decrypt every block (the inverse cipher, FIPS-197 §5.3)."""
    if len(data) % 16:
        raise ValueError("AES block data must be a multiple of 16 bytes")
    rk = _key_expand(key)
    nr = rk.shape[0] - 1
    st = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16).copy()
    st ^= rk[nr]
    for rnd in range(nr - 1, 0, -1):
        st = _INV_SBOX[st[:, _INV_SHIFT]]
        st ^= rk[rnd]
        st = _mix_columns(st, inverse=True)
    st = _INV_SBOX[st[:, _INV_SHIFT]]
    st ^= rk[0]
    return st.tobytes()


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes, unpad: bool = True) -> bytes:
    """CBC decrypt — block decrypts are independent (vectorized in one
    ECB pass); the chain is a single shifted XOR afterwards."""
    if len(data) % 16 or (not data and unpad):
        raise ValueError("CBC ciphertext must be a non-empty multiple of 16")
    if not data:
        return b""
    plain = np.frombuffer(aes_decrypt_blocks(key, data), dtype=np.uint8)
    chain = np.frombuffer(iv + data[:-16], dtype=np.uint8)
    out = (plain ^ chain).tobytes()
    if unpad:
        n = out[-1]
        if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
            raise ValueError("bad CBC padding (wrong key or corrupt data)")
        out = out[:-n]
    return out


def _build_t_tables():
    """Scalar T-tables (the classic fused SubBytes+ShiftRows+MixColumns
    word lookup, as in every public AES implementation) derived from the
    generated S-box/GF tables: Te0[x] packs (2·s, s, s, 3·s) big-endian
    for s = S[x]; Te1..Te3 are its byte rotations."""
    s = _SBOX.astype(np.uint32)
    m2 = _MUL[2][_SBOX].astype(np.uint32)
    m3 = _MUL[3][_SBOX].astype(np.uint32)
    te0 = (m2 << 24) | (s << 16) | (s << 8) | m3
    te1 = (m3 << 24) | (m2 << 16) | (s << 8) | s
    te2 = (s << 24) | (m3 << 16) | (m2 << 8) | s
    te3 = (s << 24) | (s << 16) | (m3 << 8) | m2
    return te0.tolist(), te1.tolist(), te2.tolist(), te3.tolist(), s.tolist()


_TE0, _TE1, _TE2, _TE3, _SBOX_LIST = _build_t_tables()


class _AesCbcEncryptor:
    """Key-expanded-once scalar CBC encryptor. CBC *encryption* chains
    block-to-block, so the numpy across-blocks vectorization that makes
    decryption fast cannot apply; a per-block T-table round (64 list
    lookups + xors) beats a (1, 16) numpy pass by ~50× and keeps the R6
    Algorithm-2.B hash loop (tens of thousands of chained blocks) in
    tens of milliseconds."""

    def __init__(self, key: bytes):
        rk = _key_expand(key)
        self.nr = rk.shape[0] - 1
        flat = rk.reshape(-1).tobytes()
        self.rk = [
            struct.unpack(">4I", flat[16 * r : 16 * r + 4 * 4]) for r in range(self.nr + 1)
        ]

    def encrypt_block(self, blk16: bytes) -> bytes:
        w0, w1, w2, w3 = struct.unpack(">4I", blk16)
        k = self.rk[0]
        w0 ^= k[0]; w1 ^= k[1]; w2 ^= k[2]; w3 ^= k[3]
        te0, te1, te2, te3 = _TE0, _TE1, _TE2, _TE3
        for r in range(1, self.nr):
            k = self.rk[r]
            t0 = te0[w0 >> 24] ^ te1[(w1 >> 16) & 255] ^ te2[(w2 >> 8) & 255] ^ te3[w3 & 255] ^ k[0]
            t1 = te0[w1 >> 24] ^ te1[(w2 >> 16) & 255] ^ te2[(w3 >> 8) & 255] ^ te3[w0 & 255] ^ k[1]
            t2 = te0[w2 >> 24] ^ te1[(w3 >> 16) & 255] ^ te2[(w0 >> 8) & 255] ^ te3[w1 & 255] ^ k[2]
            t3 = te0[w3 >> 24] ^ te1[(w0 >> 16) & 255] ^ te2[(w1 >> 8) & 255] ^ te3[w2 & 255] ^ k[3]
            w0, w1, w2, w3 = t0, t1, t2, t3
        sb = _SBOX_LIST
        k = self.rk[self.nr]
        o0 = ((sb[w0 >> 24] << 24) | (sb[(w1 >> 16) & 255] << 16)
              | (sb[(w2 >> 8) & 255] << 8) | sb[w3 & 255]) ^ k[0]
        o1 = ((sb[w1 >> 24] << 24) | (sb[(w2 >> 16) & 255] << 16)
              | (sb[(w3 >> 8) & 255] << 8) | sb[w0 & 255]) ^ k[1]
        o2 = ((sb[w2 >> 24] << 24) | (sb[(w3 >> 16) & 255] << 16)
              | (sb[(w0 >> 8) & 255] << 8) | sb[w1 & 255]) ^ k[2]
        o3 = ((sb[w3 >> 24] << 24) | (sb[(w0 >> 16) & 255] << 16)
              | (sb[(w1 >> 8) & 255] << 8) | sb[w2 & 255]) ^ k[3]
        return struct.pack(">4I", o0, o1, o2, o3)

    def cbc(self, iv: bytes, data: bytes) -> bytes:
        out = bytearray(len(data))
        prev0, prev1 = struct.unpack(">2Q", iv)
        for i in range(0, len(data), 16):
            b0, b1 = struct.unpack_from(">2Q", data, i)
            blk = self.encrypt_block(struct.pack(">2Q", b0 ^ prev0, b1 ^ prev1))
            out[i : i + 16] = blk
            prev0, prev1 = struct.unpack(">2Q", blk)
        return bytes(out)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    """CBC encrypt (``StandardEncryptor`` + the R6 hash loop). Chaining makes
    this inherently sequential across blocks; uses the scalar T-table
    path with the key expanded once."""
    if pad:
        n = 16 - len(data) % 16
        data = data + bytes([n]) * n
    elif len(data) % 16:
        raise ValueError("unpadded CBC needs a 16-byte multiple")
    return _AesCbcEncryptor(key).cbc(iv, data)


# ---------------------------------------------------------------------------
# Standard security handler (ISO 32000 §7.6)
# ---------------------------------------------------------------------------

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def _legacy_file_key(
    pw: bytes, o: bytes, p: int, id0: bytes, r: int, keylen: int,
    encrypt_metadata: bool,
) -> bytes:
    """Algorithm 2: the RC4/AES-128 file encryption key."""
    h = hashlib.md5(_pad_pw(pw) + o[:32] + struct.pack("<i", p) + id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:keylen]).digest()
    return key[:keylen]


def _legacy_user_check(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the expected /U value (first 16
    significant bytes for R3+)."""
    if r == 2:
        return rc4(key, _PAD)
    x = rc4(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x


def _hash_2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """Algorithm 2.B (R6 hardened hash): SHA-256 seeded, then ≥64 rounds
    of AES-128-CBC over 64 repetitions, hash choice driven by the
    ciphertext mod 3."""
    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        mod = int.from_bytes(e[:16], "big") % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _r5r6_user_hash(pw: bytes, vsalt: bytes, r: int) -> bytes:
    if r == 5:
        return hashlib.sha256(pw + vsalt).digest()
    return _hash_2b(pw, vsalt, b"")


def _r5r6_user_key(pw: bytes, ksalt: bytes, ue: bytes, r: int) -> bytes:
    inter = hashlib.sha256(pw + ksalt).digest() if r == 5 else _hash_2b(pw, ksalt, b"")
    return aes_cbc_decrypt(inter, b"\x00" * 16, ue[:32], unpad=False)


class StandardDecryptor:
    """Authenticates the user password against /U and exposes
    ``decrypt(data, num, gen, kind)`` for streams and strings. ``kind``
    selects the /StmF vs /StrF crypt filter on V4/V5 documents."""

    def __init__(self, enc: dict, id0: bytes, password: bytes = b""):
        if enc.get("Filter") != "Standard":
            raise NotImplementedError(
                f"PDF security handler {enc.get('Filter')!r}: only Standard"
            )
        self.v = int(enc.get("V", 0))
        self.r = int(enc.get("R", 2))
        o = bytes(enc["O"])
        u = bytes(enc["U"])
        p = int(enc["P"])
        if p > 0x7FFFFFFF:  # writers that serialize P unsigned
            p -= 1 << 32
        self.encrypt_metadata = bool(enc.get("EncryptMetadata", True))
        self._cfm = {"stream": "V2", "string": "V2"}  # pre-V4 default
        if self.v in (1, 2):
            keylen = 5 if self.v == 1 else int(enc.get("Length", 40)) // 8
            self.key = _legacy_file_key(
                password, o, p, id0, self.r, keylen, self.encrypt_metadata
            )
            expect = _legacy_user_check(self.key, id0, self.r)
            got = u if self.r == 2 else u[:16]
            if got != expect[: len(got)]:
                raise ValueError("PDF user password does not authenticate")
        elif self.v == 4:
            keylen = int(enc.get("Length", 128)) // 8
            self.key = _legacy_file_key(
                password, o, p, id0, self.r, keylen, self.encrypt_metadata
            )
            if u[:16] != _legacy_user_check(self.key, id0, self.r)[:16]:
                raise ValueError("PDF user password does not authenticate")
            self._load_crypt_filters(enc)
        elif self.v == 5:
            if self.r not in (5, 6):
                raise NotImplementedError(f"PDF V5 with R{self.r}")
            if _r5r6_user_hash(password, u[32:40], self.r) != u[:32]:
                raise ValueError("PDF user password does not authenticate")
            self.key = _r5r6_user_key(password, u[40:48], bytes(enc["UE"]), self.r)
            self._cfm = {"stream": "AESV3", "string": "AESV3"}
            if "CF" in enc:
                self._load_crypt_filters(enc)
        else:
            raise NotImplementedError(f"PDF encryption V={self.v}")

    def _load_crypt_filters(self, enc: dict) -> None:
        cf = enc.get("CF") or {}
        for kind, name_key in (("stream", "StmF"), ("string", "StrF")):
            name = enc.get(name_key, "Identity")
            if name == "Identity":
                self._cfm[kind] = "Identity"
                continue
            sub = cf.get(name)
            if not isinstance(sub, dict):
                raise ValueError(f"PDF crypt filter {name!r} not in /CF")
            self._cfm[kind] = sub.get("CFM", "None")

    def cfm(self, kind: str) -> str:
        return self._cfm[kind]

    def _object_key(self, num: int, gen: int, aes: bool) -> bytes:
        h = hashlib.md5(
            self.key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
        )
        if aes:
            h.update(b"\x73\x41\x6c\x54")  # "sAlT"
        return h.digest()[: min(len(self.key) + 5, 16)]

    def decrypt(self, data: bytes, num: int, gen: int, kind: str = "stream") -> bytes:
        cfm = self._cfm[kind]
        if cfm == "Identity" or not data:
            return data
        if cfm == "V2":
            return rc4(self._object_key(num, gen, aes=False), data)
        if cfm == "AESV2":
            key = self._object_key(num, gen, aes=True)
        elif cfm == "AESV3":
            key = self.key
        else:
            raise NotImplementedError(f"PDF crypt filter method {cfm}")
        if len(data) < 16:
            raise ValueError("AES-encrypted PDF data shorter than its IV")
        return aes_cbc_decrypt(key, data[:16], data[16:])


class StandardEncryptor:
    """The write half:
    computes /O and /U (Algorithms 3/5 for R≤4; the R6 salted-hash
    layout with /UE /OE /Perms) for an empty-or-given user password and
    encrypts per object. ``mode``: ``rc4`` → V2/R3 RC4-128, ``aesv2`` →
    V4/R4 AES-128, ``aesv3`` → V5/R6 AES-256. Salts and the AES IVs are
    derived deterministically from (id0, object number) so output is
    byte-stable; determinism costs nothing here because each (key, IV)
    pair still encrypts a distinct object exactly once."""

    def __init__(
        self, mode: str = "aesv2", user_pw: bytes = b"", owner_pw: bytes = b"",
        p: int = -4, id0: bytes = b"pypdfocr-spark-fixture-id0......",
    ):
        self.mode = mode
        self.id0 = id0[:16].ljust(16, b".")
        self.p = p
        owner_pw = owner_pw or user_pw
        if mode in ("rc4", "aesv2"):
            self.r = 3 if mode == "rc4" else 4
            self.v = 2 if mode == "rc4" else 4
            keylen = 16
            # Algorithm 3: /O from the owner password
            h = hashlib.md5(_pad_pw(owner_pw)).digest()
            for _ in range(50):
                h = hashlib.md5(h[:keylen]).digest()
            okey = h[:keylen]
            o = rc4(okey, _pad_pw(user_pw))
            for i in range(1, 20):
                o = rc4(bytes(b ^ i for b in okey), o)
            self.o = o
            self.key = _legacy_file_key(
                user_pw, o, p, self.id0, self.r, keylen, True
            )
            self.u = _legacy_user_check(self.key, self.id0, self.r) + b"\x00" * 16
        elif mode == "aesv3":
            self.r, self.v = 6, 5
            self.key = hashlib.sha256(b"filekey" + self.id0).digest()
            uv, uk = self._salt(b"uv"), self._salt(b"uk")
            self.u = _hash_2b(user_pw, uv, b"") + uv + uk
            inter = _hash_2b(user_pw, uk, b"")
            self.ue = aes_cbc_encrypt(inter, b"\x00" * 16, self.key, pad=False)
            ov, ok = self._salt(b"ov"), self._salt(b"ok")
            self.o = _hash_2b(owner_pw, ov, self.u) + ov + ok
            ointer = _hash_2b(owner_pw, ok, self.u)
            self.oe = aes_cbc_encrypt(ointer, b"\x00" * 16, self.key, pad=False)
            perms = struct.pack("<i", p) + b"\xff\xff\xff\xffTadbpass"
            self.perms = aes_encrypt_blocks(self.key, perms[:16])
        else:
            raise ValueError(f"unknown encryption mode {mode!r}")

    def _salt(self, tag: bytes) -> bytes:
        return hashlib.sha256(tag + self.id0).digest()[:8]

    def encrypt_dict(self) -> dict:
        if self.mode == "rc4":
            return {"Filter": "Standard", "V": 2, "R": 3, "Length": 128,
                    "O": self.o, "U": self.u, "P": self.p}
        if self.mode == "aesv2":
            return {
                "Filter": "Standard", "V": 4, "R": 4, "Length": 128,
                "CF": {"StdCF": {"Type": "CryptFilter", "CFM": "AESV2",
                                 "AuthEvent": "DocOpen", "Length": 16}},
                "StmF": "StdCF", "StrF": "StdCF",
                "O": self.o, "U": self.u, "P": self.p,
            }
        return {
            "Filter": "Standard", "V": 5, "R": 6, "Length": 256,
            "CF": {"StdCF": {"Type": "CryptFilter", "CFM": "AESV3",
                             "AuthEvent": "DocOpen", "Length": 32}},
            "StmF": "StdCF", "StrF": "StdCF",
            "O": self.o, "U": self.u, "OE": self.oe, "UE": self.ue,
            "P": self.p, "Perms": self.perms,
        }

    def encrypt(self, data: bytes, num: int, gen: int = 0) -> bytes:
        if self.mode == "rc4":
            h = hashlib.md5(
                self.key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
            )
            return rc4(h.digest()[: min(len(self.key) + 5, 16)], data)
        if self.mode == "aesv2":
            h = hashlib.md5(
                self.key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
                + b"\x73\x41\x6c\x54"
            )
            key = h.digest()[: min(len(self.key) + 5, 16)]
        else:
            key = self.key
        iv = hashlib.md5(self.id0 + struct.pack("<iH", num, gen)).digest()
        return iv + aes_cbc_encrypt(key, iv, data)
