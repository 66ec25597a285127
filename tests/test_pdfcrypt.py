"""PDF standard-security-handler crypto (pdfcrypt): the primitives
against published known-answer vectors, and the handler's key agreement
between its write and read halves for every revision it implements
(R3 RC4-128, R4 AES-128 crypt filters, R6 AES-256)."""

import numpy as np
import pytest

from pypdfocr_spark import pdfcrypt


# -- primitives ---------------------------------------------------------------


def test_aes_fips197_known_answers():
    """FIPS-197 Appendix C example vectors, all three key sizes, both
    directions — pins the generated S-box/GF tables and the
    column-major ShiftRows/MixColumns indexing."""
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vectors = {
        16: "69c4e0d86a7b0430d8cdb78070b4c55a",
        24: "dda97ca4864cdfe06eaf70a0ec0d7191",
        32: "8ea2b7ca516745bfeafc49904b496089",
    }
    for klen, ct_hex in vectors.items():
        key = bytes(range(klen))
        ct = pdfcrypt.aes_encrypt_blocks(key, pt)
        assert ct.hex() == ct_hex, klen
        assert pdfcrypt.aes_decrypt_blocks(key, ct) == pt, klen


def test_aes_scalar_path_matches_vectorized():
    """The T-table scalar encryptor (CBC chaining path) agrees with the
    numpy across-blocks ECB on random data for every key size, and CBC
    encrypt/decrypt round-trip with and without padding."""
    rng = np.random.default_rng(7)
    for klen in (16, 24, 32):
        key = bytes(rng.integers(0, 256, klen, dtype=np.uint8))
        data = bytes(rng.integers(0, 256, 16 * 37, dtype=np.uint8))
        enc = pdfcrypt._AesCbcEncryptor(key)
        scalar = b"".join(
            enc.encrypt_block(data[i : i + 16]) for i in range(0, len(data), 16)
        )
        assert scalar == pdfcrypt.aes_encrypt_blocks(key, data)
        iv = bytes(rng.integers(0, 256, 16, dtype=np.uint8))
        ct = pdfcrypt.aes_cbc_encrypt(key, iv, data, pad=False)
        assert pdfcrypt.aes_cbc_decrypt(key, iv, ct, unpad=False) == data
        ct = pdfcrypt.aes_cbc_encrypt(key, iv, data[:21])
        assert pdfcrypt.aes_cbc_decrypt(key, iv, ct) == data[:21]


def test_aes_cbc_bad_padding_raises():
    key, iv = bytes(16), bytes(16)
    ct = pdfcrypt.aes_cbc_encrypt(key, iv, b"hello")
    with pytest.raises(ValueError, match="padding"):
        pdfcrypt.aes_cbc_decrypt(bytes(range(16)), iv, ct)  # wrong key


def test_rc4_known_answer():
    """The classic public RC4 test vector (key "Key" / "Plaintext")
    plus symmetry."""
    ct = pdfcrypt.rc4(b"Key", b"Plaintext")
    assert ct.hex() == "bbf316e8d940af0ad3"
    assert pdfcrypt.rc4(b"Key", ct) == b"Plaintext"


def test_standard_handler_key_agreement():
    """Encryptor and decryptor derive the SAME file key from the
    serialized /Encrypt dict for every mode, empty and non-empty user
    passwords — the handler-level invariant underneath the round trips."""
    for mode in ("rc4", "aesv2", "aesv3"):
        for pw in (b"", b"hunter2"):
            enc = pdfcrypt.StandardEncryptor(mode=mode, user_pw=pw)
            dec = pdfcrypt.StandardDecryptor(enc.encrypt_dict(), enc.id0, pw)
            assert dec.key == enc.key, (mode, pw)
            data = b"Tj (secret text run) BT ET" * 7
            assert dec.decrypt(enc.encrypt(data, 12), 12, 0) == data, (mode, pw)
