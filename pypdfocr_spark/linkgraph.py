"""Web link graph ranking: PageRank and harmonic centrality over an
edge DataFrame — the Common-Crawl-style webgraph ranking step a crawl
curation pipeline runs to score hosts (quality priors, crawl-frontier
ordering, domain weighting for training-data sampling).

* :func:`pagerank` — classic damped PageRank with dangling-mass
  redistribution (Page et al. 1999; the power-iteration formulation),
  plus personalized (seed-teleport, TrustRank-style) mode:

      r'(v) = (1-d)/N + d * ( sum_{u->v} r(u) * w(u,v)/W(u) + D/N )

  where ``D`` is the total rank mass sitting on dangling nodes (no
  out-edges) that iteration. Total mass is conserved at 1 every
  iteration (pytest-pinned), so ranks are comparable across graphs.

Scale shape of :func:`pagerank` (the part that must survive 10^12
edges): the edge relation is normalized ONCE (``frac = w/W(u)``),
hash-partitioned by ``src`` and persisted — every subsequent iteration
shuffles only the slim (node, rank) relation into that layout, joins,
and runs one map-side-combinable sum per ``dst``. Per iteration that is
ONE small shuffle (ranks, |V| rows) plus one aggregation shuffle
(|E|→|V| after partial aggs); the |E|-row edge table never moves again.
The dangling mass is a single O(1) scalar per iteration, collected by
the same action that materializes the new ranks (one Spark job and one
driver barrier per iteration), like the k-means centroid loop
(`similarity.py` kmeans_centroids): it is a value, not data.
Lineage is cut with ``localCheckpoint`` every ``checkpoint_interval``
iterations so the plan does not grow with the iteration count.

Floating-point note: per-``dst`` sums run in shuffle arrival order, so
ranks are deterministic only up to double rounding (~1e-15 per term);
tests compare against a numpy replica at 1e-9 and pin exact rational
fixtures (two-node cycle = [1/2, 1/2]) where order cannot matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: "str | None" = None,
    num_partitions: "int | None" = None,
    checkpoint_interval: int = 5,
    seeds: "list[str] | None" = None,
) -> DataFrame:
    """Damped PageRank with dangling-mass redistribution over an edge
    DataFrame; returns (node, rank) with sum(rank) == 1. Duplicate
    edges act as weight (or pass ``weight_col``). See the module
    docstring for the per-iteration scale shape.

    ``seeds`` switches to personalized PageRank (the TrustRank shape,
    Gyongyi et al. 2004): teleport AND dangling mass land uniformly on
    the seed set instead of all nodes, so rank measures proximity to the
    seeds — trusted-host spam demotion, topic-conditioned host scoring.
    The seed list is an in-plan literal (seed sets are curated and
    small — hundreds, not millions); seeds absent from the graph are
    ignored, an entirely-absent seed set raises. The per-iteration shape
    is unchanged: the teleport vector is one more slim column on the
    pinned (node) relation, not a join.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = edges.sparkSession
    p = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    ).where(F.col("w") > 0)

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(p, "node")
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    # teleport vector: one slim double column pinned alongside the node
    # ids — uniform 1/N, or 1/|S| on the seed set for personalized PR
    if seeds is not None:
        seed_list = sorted(set(seeds))
        if not seed_list:
            raise ValueError("seeds must be non-empty when given")
        is_seed = F.col("node").isin(seed_list)
        n_seeds = nodes.where(is_seed).count()
        if n_seeds == 0:
            raise ValueError("no seed node appears in the edge set")
        tele = F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    else:
        tele = F.lit(1.0 / n_nodes)
    outw = e.groupBy("src").agg(F.sum("w").alias("w_total"))
    # dangling-ness is a static property of the graph — fold it into the
    # pinned node relation as one boolean column, so the per-iteration
    # dangling mass is a conditional sum inside the action that
    # materializes the ranks, NOT a join. The previous form (a per-
    # iteration left_semi against a persisted dangler set) planned as a
    # BroadcastHashJoin under AQE: every iteration collected + built an
    # O(|V|) broadcast on the driver — a serial cost that neither
    # shrinks with cores (measured: it was most of the 1.9 s/iter floor
    # at local[16]) nor exists at 10^12 scale, where |V| cannot
    # broadcast at all.
    nodes_t = (
        nodes.join(
            outw.select(F.col("src").alias("node"), F.lit(False).alias("d0")),
            "node",
            "left",
        )
        .select(
            "node",
            tele.alias("tele"),
            F.coalesce(F.col("d0"), F.lit(True)).alias("dang"),
        )
        .repartition(p, "node")
        .persist()
    )
    nodes_t.count()

    # normalized once: frac = w(u,v)/W(u); partitioned by src and pinned
    # so the |E|-row side never reshuffles across iterations
    edges_norm = (
        e.groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("w_total")).alias("frac"))
        .repartition(p, "src")
        .persist()
    )
    edges_norm.count()

    d = float(damping)

    def dangling_mass_of(r: DataFrame) -> float:
        # an O(1) scalar per iteration, like the k-means centroid loop:
        # collected by the ACTION THAT MATERIALIZES the ranks it reads,
        # so an iteration is one Spark job (one driver barrier). The
        # scalar stays a plan literal rather than an in-plan broadcast
        # aggregate — the crossJoin/BNLJ fusion was measured ~2x SLOWER
        # per iteration (19 s vs 9 s for 8 iterations at 2M edges,
        # local[16]): the broadcast exchange serializes against the main
        # stages, while the literal keeps the update in one codegen span.
        row = r.agg(
            F.sum(F.when(F.col("dang"), F.col("rank"))).alias("m")
        ).collect()[0]
        return float(row["m"] or 0.0)

    ranks = nodes_t.select(
        "node", F.col("tele").alias("rank"), "dang"
    ).persist()
    dangling_mass = dangling_mass_of(ranks)

    for it in range(iterations):
        # shuffle_hash hints on the slim sides: both joins are already
        # co-partitioned (ranks/contribs hashed on node=src/dst at p
        # partitions), so the SHJ is exchange-free and partition-local.
        # Without the hint AQE broadcasts the |V|-row side every
        # iteration (it is under the threshold at test scale) — a serial
        # driver build that breaks core-count scaling locally and is
        # impossible at a 10^9-host graph.
        contribs = (
            ranks.withColumnRenamed("node", "src")
            .drop("dang")
            .hint("shuffle_hash")
            .join(edges_norm, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
        )
        new_ranks = (
            nodes_t.join(
                contribs.withColumnRenamed("dst", "node").hint(
                    "shuffle_hash"
                ),
                "node",
                "left",
            )
            .select(
                "node",
                (
                    F.lit(1.0 - d) * F.col("tele")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dangling_mass) * F.col("tele")
                    )
                ).alias("rank"),
                "dang",
            )
        )
        if (it + 1) % checkpoint_interval == 0:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        else:
            new_ranks = new_ranks.persist()
        # materializes new_ranks AND yields the next iteration's scalar
        dangling_mass = dangling_mass_of(new_ranks)
        ranks.unpersist()
        ranks = new_ranks

    edges_norm.unpersist()
    nodes_t.unpersist()
    nodes.unpersist()
    return ranks.select("node", "rank")


# --------------------------------------------------------------------------
# Harmonic centrality via HyperBall (Boldi & Vigna 2013): each node keeps a
# HyperLogLog sketch of the ball of nodes that REACH it; one relaxation
# round grows every ball by one hop, and the per-round cardinality delta
# telescopes into H(x) = sum_{y != x} 1/d(y, x) — the other published
# Common Crawl host-ranking signal next to PageRank. Exact all-pairs BFS
# is O(|V|*|E|); this is O(rounds * |E|) with fixed-size counters.


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_init(node: str, p: int) -> "np.ndarray":
    """Fresh sketch containing exactly {node}: md5-derived 64-bit hash,
    first p bits pick the register, rank = leading-zero count of the
    remaining 64-p bits + 1 (the standard HLL layout; md5 keeps the
    register assignment deterministic across runs and processes —
    Python's builtin hash() is salted per process and would break
    resume/retry determinism)."""
    import hashlib

    import numpy as np

    h = int.from_bytes(
        hashlib.md5(node.encode("utf-8", "surrogatepass")).digest()[:8],
        "big",
    )
    idx = h >> (64 - p)
    w = h & ((1 << (64 - p)) - 1)
    rank = (64 - p) - w.bit_length() + 1
    sk = np.zeros(1 << p, dtype=np.uint8)
    sk[idx] = rank
    return sk


def _hll_count(sk: "np.ndarray") -> float:
    """Standard HLL estimate with the small-range linear-counting
    correction (no large-range correction needed for 64-bit hashes)."""
    import numpy as np

    m = sk.shape[0]
    est = _hll_alpha(m) * m * m / np.exp2(-sk.astype(np.float64)).sum()
    if est <= 2.5 * m:
        zeros = int((sk == 0).sum())
        if zeros:
            return float(m * np.log(m / zeros))
    return float(est)


HARMONIC_SCHEMA = StructType(
    [
        StructField("node", StringType()),
        StructField("harmonic", DoubleType()),
        StructField("ball_est", DoubleType()),
    ]
)

_SKETCH_SCHEMA = (
    "node string, sketch binary, h double, est double, changed boolean"
)


def harmonic_centrality(
    edges: DataFrame,
    p: int = 12,
    max_iters: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: "int | None" = None,
    checkpoint_interval: int = 4,
    salt: "int | None" = None,
) -> DataFrame:
    """Approximate harmonic centrality H(x) = sum over reaching nodes y
    of 1/d(y, x), for every node, via HyperBall. Returns (node,
    harmonic, ball_est) where ball_est estimates |{y: y reaches x}| + 1.

    Accuracy: HLL relative error ~= 1.04/sqrt(2^p) per ball (p=12 →
    ~1.6%); the harmonic sum inherits it through the telescoped deltas.

    Scale shape: per round, the edge relation joins the (node, sketch)
    relation on src and ships one sketch per edge to its dst — O(|E|)
    rows of 2^p bytes, linear and compressible, the known HyperBall
    cost (p trades accuracy against shuffle volume). The merge is a
    streaming per-partition elementwise-max over a hash-partitioned
    layout (mapInPandas with a dict of partials), NOT a groupBy
    collect — a mega-indegree node streams its in-edge sketches
    through one task in O(indegree) memory-bounded work; pass ``salt``
    to pre-merge partials over (node, salt) first when indegree skew
    is extreme (one extra bounded shuffle). Rounds stop when no sketch
    changed (ball saturation = graph diameter) or at ``max_iters``;
    per-round driver state is one changed-count scalar, like the
    pagerank loop. Register merges are exact max operations, so the
    result is deterministic and layout-invariant for a fixed p.
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    import numpy as np  # noqa: F401  (kernel helpers use it)

    spark = edges.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_part, "src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def init_sketches(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for node in pdf["node"]:
                sk = _hll_init(node, p)
                out.append(
                    (node, sk.tobytes(), 0.0, _hll_count(sk), True)
                )
            yield pd.DataFrame(
                out, columns=["node", "sketch", "h", "est", "changed"]
            )

    def merge_round(t: int, final_merge: bool):
        """Streaming elementwise-max merge keyed by the first column.
        Own rows (h/est non-null) carry the running harmonic sum; on
        the final merge the delta update h += (est'-est)/t applies."""

        def run(batches):
            import pandas as pd

            acc: "dict[str, list]" = {}  # node -> [merged, h, est, own]
            for pdf in batches:
                for node, sk, h, est in zip(
                    pdf["node"], pdf["sketch"], pdf["h"], pdf["est"]
                ):
                    a = np.frombuffer(bytes(sk), dtype=np.uint8)
                    slot = acc.get(node)
                    if slot is None:
                        slot = acc[node] = [a, None, None, None]
                    else:
                        slot[0] = np.maximum(slot[0], a)
                    if h is not None and not pd.isna(h):  # the own row
                        slot[1] = float(h)
                        slot[2] = float(est)
                        slot[3] = a
            out = []
            for node, (merged, h, est, own) in acc.items():
                if not final_merge:
                    out.append((node, merged.tobytes(), h, est, False))
                    continue
                changed = own is None or not np.array_equal(merged, own)
                new_est = _hll_count(merged) if changed else est
                new_h = h + max(new_est - est, 0.0) / t
                out.append(
                    (node, merged.tobytes(), new_h, new_est, changed)
                )
            yield pd.DataFrame(
                out, columns=["node", "sketch", "h", "est", "changed"]
            )

        return run

    sketches = (
        nodes.repartition(n_part, "node")
        .mapInPandas(init_sketches, _SKETCH_SCHEMA)
        .persist()
    )
    sketches.count()

    for it in range(1, max_iters + 1):
        contribs = (
            e.join(sketches.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                "sketch",
                F.lit(None).cast("double").alias("h"),
                F.lit(None).cast("double").alias("est"),
                F.lit(False).alias("changed"),
            )
        )
        if salt:
            contribs = (
                contribs.withColumn(
                    "_salt", F.pmod(F.xxhash64(F.rand(seed=it)), salt)
                )
                .repartition(n_part, "node", "_salt")
                .drop("_salt")
                .mapInPandas(merge_round(it, False), _SKETCH_SCHEMA)
            )
        merged = (
            contribs.unionByName(sketches)
            .repartition(n_part, "node")
            .mapInPandas(merge_round(it, True), _SKETCH_SCHEMA)
        )
        if it % checkpoint_interval == 0:
            merged = merged.localCheckpoint(eager=True)
        else:
            merged = merged.persist()
        n_changed = merged.where("changed").count()
        sketches.unpersist()
        sketches = merged
        if n_changed == 0:
            break

    out = sketches.select(
        "node",
        F.col("h").alias("harmonic"),
        F.col("est").alias("ball_est"),
    )
    e.unpersist()
    return out
