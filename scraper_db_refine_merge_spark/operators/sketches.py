"""Mergeable distinct-count sketches (KMV and HyperLogLog), md5-derived
and bit-exact across engines — no UDFs, no randomness.

Why sketches in this engine: the reference's run metrics count distincts
exactly (fine at Mongo scale); at 100 TB a per-partition-mergeable sketch
replaces a full shuffle of the distinct keys with a fixed-size state per
group. Both sketches here are classic published designs:

- KMV ("k minimum values"): keep the k smallest hash values per group;
  the k-th smallest estimates density → distinct ≈ (k-1)/frac(kth).
  Merge = union + re-take-k-smallest.
- HyperLogLog: bucket by the first bits of the hash, register = max
  leading-zero-run-length (rho) of the remainder; merge = element-wise
  MAX of registers — the canonical mergeable sketch.

Determinism/parity design (the reason this file looks the way it does):
- the hash is md5 of the value's string form — identical hex in Spark and
  DuckDB, so sketch CONTENT (registers, k-th hash) is oracle-checkable
  bit-for-bit, not just approximately.
- rho is computed lexically: ``instr(lpad(bin(x), 60, '0'), '1')`` — both
  engines agree on bin()/lpad()/strpos semantics (verified), avoiding
  any floating log2.
- the HLL harmonic sum is kept EXACT: Σ 2^(-rho) is scaled by 2^64 into a
  DECIMAL(38,0) integer numerator (max 64·2^64 ≈ 1.2e21 < 10^38), so
  accumulation order cannot perturb it — raw_estimate is then one IEEE
  division at the end, identical everywhere.

Aggregation shape: one partial-aggregated shuffle per sketch (groupBy
(group, bucket) max / windowed top-k per group) — registers per group are
fixed-size, so state is O(groups · m) regardless of input rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HLL_M = 64  # registers per group (b=6 bucket bits)
HLL_RHO_BITS = 60  # bits of hash used for the leading-zero run
KMV_K = 32

# 2^64 as an exact decimal literal (the Σ2^(-rho) scale factor). Kept at
# DECIMAL(21,0) so (m - n_present)·2^64 stays inside DECIMAL(31,0) — a
# 38-wide product would overflow DuckDB's decimal multiply into DOUBLE.
_POW64_DEC = "CAST('18446744073709551616' AS DECIMAL(21,0))"


def _md5(value: Column) -> Column:
    return F.md5(value.cast("string").cast("binary"))


def _bucket(h: Column, m: int) -> Column:
    return (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % m).cast("int")


def _rho(h: Column) -> Column:
    """1 + leading-zero count of the 60-bit remainder; 61 when all-zero.
    Lexical formulation keeps both engines bit-identical."""
    x = F.conv(F.substring(h, 3, 15), 16, 10).cast("long")
    pos = F.instr(F.lpad(F.bin(x), HLL_RHO_BITS, "0"), "1")
    return F.when(pos == 0, F.lit(HLL_RHO_BITS + 1)).otherwise(pos).cast("int")


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str, m: int = HLL_M
) -> DataFrame:
    """(group..., bucket, max_rho): the HLL sketch state itself. MAX makes
    it mergeable across partitions/batches/days — union register tables and
    re-MAX to combine sketches (tested)."""
    h = _md5(F.col(value_col))
    return (
        df.select(*group_cols, _bucket(h, m).alias("bucket"), _rho(h).alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_summary(
    registers: DataFrame, group_cols: list[str], m: int = HLL_M
) -> DataFrame:
    """Per-group estimate from a register table: exact DECIMAL numerator
    Σ 2^(64-rho) (absent buckets contribute 2^64 ≡ rho 0), raw HLL
    estimate α·m²·2^64 / numerator. No small/large-range corrections —
    documented raw-HLL semantics, adequate for m=64 at engine-test scale."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # 2^(64-rho) from exact decimal literals: Spark's double→decimal cast
    # rounds through the double's 16-digit string repr (pow(2.0,59) would
    # land 2 off), so powers are looked up, never computed in floating point
    pow2 = F.array(*[F.lit(str(1 << i)).cast("decimal(21,0)") for i in range(64)])
    term = F.try_element_at(pow2, (F.lit(65) - F.col("max_rho")).cast("int"))
    g = registers.groupBy(*group_cols).agg(
        F.count("*").alias("n_present"),
        F.sum(term).alias("sum_present"),
    )
    numerator = (
        F.col("sum_present")
        + (F.lit(m) - F.col("n_present")).cast("decimal(10,0)") * F.expr(_POW64_DEC)
    ).cast("decimal(38,0)")
    est = (
        F.lit(alpha * m * m)
        * F.expr(f"CAST({_POW64_DEC} AS DOUBLE)")
        / numerator.cast("double")
    )
    return g.select(
        *group_cols,
        (F.lit(m) - F.col("n_present")).cast("int").alias("n_zero_registers"),
        numerator.alias("harmonic_numerator"),
        est.alias("raw_estimate"),
    )


def histogram_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, width: float
) -> DataFrame:
    """(group..., bin, n): fixed-width histogram — the mergeable quantile
    sketch (bin counts ADD across partitions/batches/days, tested). The
    scale swap for exact grouped quantiles (q61): state per group is
    O(value_range/width) instead of O(rows), one partial-agg shuffle."""
    return (
        df.select(*group_cols, F.floor(F.col(value_col) / F.lit(width)).alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame, group_cols: list[str], qs: list[float], width: float
) -> DataFrame:
    """Per-group quantile estimates from a histogram sketch by linear
    interpolation inside the covering bin. All arithmetic is written in
    one fixed order (bin·w + (q·total − cum_before)/n · w) so engines
    agree bit-for-bit on the estimates, not just approximately."""
    w_cum = Window.partitionBy(*group_cols).orderBy("bin")
    w_all = Window.partitionBy(*group_cols)
    h = (
        hist.withColumn("cum", F.sum("n").over(w_cum))
        .withColumn("total", F.sum("n").over(w_all))
        .select(*group_cols, "bin", "n", "cum", "total",
                F.explode(F.array(*[F.lit(q) for q in qs])).alias("q"))
    )
    target = F.col("q") * F.col("total")
    covering = h.filter(F.col("cum") >= target).withColumn(
        "rn", F.row_number().over(Window.partitionBy(*group_cols, "q").orderBy("bin"))
    ).filter(F.col("rn") == 1)
    est = (
        F.col("bin") * F.lit(width)
        + (target - (F.col("cum") - F.col("n"))) / F.col("n") * F.lit(width)
    )
    return covering.select(
        *group_cols, "q", est.alias("est_value"), F.col("total").alias("n_total")
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(value: Column, row: int) -> Column:
    """Row-independent bucket: md5 of "row:value" (the row prefix makes the
    d hash functions independent slices of one md5 family), first 8 hex
    chars → 32-bit int mod CMS_WIDTH. Reproducible in any engine with
    md5/substring — the oracle mirrors it via '0x…'::UBIGINT."""
    h = F.md5(F.concat(F.lit(f"{row}:"), value.cast("string")).cast("binary"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_WIDTH).cast("int")


def cms_registers(df: DataFrame, group_cols: list[str], key_col: str) -> DataFrame:
    """(group..., row, bucket, cnt): count-min sketch state — the mergeable
    FREQUENCY sketch completing the family (HLL = distinct, histogram =
    quantiles, CMS = per-key counts). Merge = element-wise SUM of cells
    (tested), so per-partition/batch/day sketches combine without re-reading
    data; state per group is fixed d·w cells regardless of input rows.

    Shape: explode each input row to its d (row, bucket) cells, ONE
    partial-aggregated shuffle — map-side combine collapses each partition
    to ≤ d·w cells before the exchange, so shuffle volume is O(partitions ·
    d·w), not O(rows). d = CMS_DEPTH, w = CMS_WIDTH; each row counts 1."""
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_bucket(F.col(key_col), i).alias("bucket"),
                )
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("rb")
    return (
        df.select(*group_cols, cells, F.lit(1).alias("__w"))
        .select(*group_cols, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"), "__w")
        .groupBy(*group_cols, "row", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(registers: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Per-key count estimate = min over the d rows of the key's cell — the
    classic CMS upper-biased point query. ``keys`` is the candidate-key
    table (at scale you pass candidates, not the full key universe); the
    register table is d·w cells and is explicitly broadcast, so estimation
    is a map-side join over the candidates — no shuffle of the keys."""
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_bucket(F.col(key_col), i).alias("bucket"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(registers), ["row", "bucket"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est_count"))
    )


def kmv_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = KMV_K
) -> DataFrame:
    """(group..., n_distinct_hashes, kth_hash, est_distinct): k-minimum-
    values sketch. Distinct hashes first (KMV is a set sketch), then the
    k-th smallest per group. Groups with fewer than k distinct values
    report exact.

    Scale shape (r6, same class as the ADVICE r5 kmv_set_estimates fix): a
    single ``Window.partitionBy(group).orderBy(h)`` would sort EVERY
    distinct hash of a group in one task — a hot group with 10^9 distinct
    values is a straggler/OOM. Instead the k-th smallest is found in two
    phases: per-(group, salt) local top-k (each task sorts its salt bucket
    only), then a final rank over ≤ 16k survivors per group. The k-th
    smallest of the group is necessarily inside its salt bucket's local
    top-k, so the result is identical. The exact distinct count comes from
    a plain aggregate — no window needed."""
    n_salts = 16
    hashed = df.select(*group_cols, _md5(F.col(value_col)).alias("h")).distinct()
    counts = hashed.groupBy(*group_cols).agg(F.count("*").alias("n_distinct_hashes"))
    salted = hashed.withColumn("__salt", F.pmod(F.hash("h"), F.lit(n_salts)))
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy("h")
    local = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy("h")  # ≤ n_salts·k rows/group
    kth = (
        local.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == k)
        .select(*group_cols, F.col("h").alias("kth_hash"))
    )
    kth_frac = F.conv(F.substring("kth_hash", 1, 15), 16, 10).cast("double") / F.pow(
        F.lit(2.0), F.lit(60)
    )
    joined = counts.join(kth, group_cols, "left")
    return joined.select(
        *group_cols,
        "n_distinct_hashes",
        "kth_hash",
        F.when(F.col("kth_hash").isNull(), F.col("n_distinct_hashes").cast("double"))
        .otherwise(F.lit(float(k - 1)) / kth_frac)
        .alias("est_distinct"),
    )


# ----------------------------------------------------------------------
# q-digest: a mergeable RANK-ACCURATE quantile sketch (VERDICT r4 item 6).
#
# The fixed-width histogram_sketch above is mergeable but its rank error is
# tied to the bin width you guessed up front. The q-digest (Shrivastava et
# al., "Medians and Beyond", SenSys'04) adapts: it is a set of dyadic
# intervals over an integer universe [0, 2^L) — a sparse cut of the
# complete binary tree — where dense regions keep fine (leaf-level) nodes
# and sparse regions collapse into coarse ancestors, holding the node
# count near O(k) while rank error stays ≤ L·⌈N/k⌉ (each of the ≤L
# ancestors of a query point can hide at most one sub-threshold count).
#
# This implementation is the BOTTOM-UP SIBLING-MERGE variant: L
# deterministic rounds, round for level lv merging each sibling pair whose
# combined count is ≤ ⌈N/k⌉ into its parent. Everything is exact integer
# arithmetic over md5-free keys, so the sketch CONTENT — not just the
# estimates — is engine-reproducible bit-for-bit and the DuckDB oracle
# (plans/sketchq.py q106, 16 unrolled compression rounds) hash-matches it.
#
# Merge algebra: counts are conserved through compression (nodes move UP
# the tree, they are never dropped), so merging two sketches = SUM counts
# per node + one recompression under the combined N. Invariants are pinned
# in tests/test_sketches.py: partitioning-independence, count conservation,
# size bound, rank-error bound, and merge≈whole-data agreement.

QD_LEVELS = 16
QD_U = 1 << QD_LEVELS  # integer universe [0, 65536)
QD_K = 256  # compression parameter: sketch ~O(k) nodes, error ≤ L·⌈N/k⌉


def _qd_level(node: Column) -> Column:
    """floor(log2(node)) as a pure-integer CASE ladder (no floating log,
    no bin()-padding assumptions — the same 17-branch expression is
    emitted in the DuckDB oracle via ``_qd_level_sql``)."""
    out = F.lit(0)
    for lv in range(1, QD_LEVELS + 1):
        out = F.when(node >= F.lit(1 << lv), F.lit(lv)).otherwise(out)
    return out


def qdigest_compress(state: DataFrame, group_cols: list[str]) -> DataFrame:
    """Compress a (group..., node, cnt) table into q-digest form: L =
    QD_LEVELS rounds bottom-up; round lv merges sibling pairs at level lv
    whose combined count ≤ ⌈N/QD_K⌉ into their parent. N is the per-group
    total (counts are conserved, so it can be re-derived from any state).
    Deterministic:
    integer-only (Python ints — no overflow), order-independent.

    Executed as ONE shuffle on the group key + a per-group Arrow task: a
    group's state is ≤ 2^L rows BY CONSTRUCTION (the dyadic tree has
    that many leaves) regardless of data volume, so per-group local
    compression is bounded-memory at any corpus scale, and parallelism
    grows with the number of groups. The pure-DataFrame formulation (L
    rounds of window+aggregate) was measured ~30× slower — 2·L shuffles of
    a sketch-sized table per compression is all fixed overhead."""
    import pandas as pd

    schema_prefix = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in state.schema.fields
        if f.name in group_cols
    )
    out_schema = (schema_prefix + ", " if schema_prefix else "") + "node long, cnt long"

    def _compress(key, pdf):
        counts: dict[int, int] = {}
        for node, c in zip(pdf["node"], pdf["cnt"]):
            counts[int(node)] = counts.get(int(node), 0) + int(c)
        n = sum(counts.values())
        thr = max(1, (n + QD_K - 1) // QD_K)
        for lv in range(QD_LEVELS, 0, -1):
            lo, hi = 1 << lv, 1 << (lv + 1)
            sib: dict[int, int] = {}
            for node, c in counts.items():
                if lo <= node < hi:
                    sib[node // 2] = sib.get(node // 2, 0) + c
            new: dict[int, int] = {}
            for node, c in counts.items():
                if lo <= node < hi and sib[node // 2] <= thr:
                    node = node // 2
                new[node] = new.get(node, 0) + c
            counts = new
        out = {gc: [kv] * len(counts) for gc, kv in zip(group_cols, key)}
        out["node"] = list(counts.keys())
        out["cnt"] = list(counts.values())
        return pd.DataFrame(out)

    return state.groupBy(*group_cols).applyInPandas(_compress, out_schema)


def qdigest_sketch(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """(group..., node, cnt) q-digest over an integer value column already
    mapped into [0, QD_U). The ONLY corpus-scale shuffle is the leaf
    aggregation (groupBy value — partial-aggregated map-side); the L
    compression rounds run over ≤QD_U sketch rows per group."""
    leaves = (
        df.select(*group_cols, (F.lit(QD_U) + F.col(value_col).cast("long")).alias("node"))
        .groupBy(*group_cols, "node")
        .agg(F.count("*").alias("cnt"))
    )
    return qdigest_compress(leaves, group_cols)


def qdigest_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two q-digests: SUM counts per node, recompress under the
    combined per-group N. Counts are conserved by compression, so the
    merged sketch summarizes exactly N_a + N_b observations."""
    summed = (
        a.unionByName(b)
        .groupBy(*group_cols, "node")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return qdigest_compress(summed, group_cols)


def qdigest_quantiles(sk: DataFrame, group_cols: list[str], qpcts: list[int]) -> DataFrame:
    """Per-group quantile estimates from a q-digest: nodes sorted by
    interval upper bound, first node whose running count reaches
    ⌈qpct·N/100⌉ reports its upper bound (the classic q-digest query —
    estimates are ≥ the true quantile by at most the rank error). Output:
    (group..., qpct, est_scaled, n_total) — all integers, bit-reproducible."""
    lv = _qd_level(F.col("node"))
    h = sk.withColumn("__lv", lv).withColumn(
        "__hi",
        (F.col("node") - F.expr("shiftleft(1L, __lv)") + 1)
        * F.expr(f"shiftleft(1L, {QD_LEVELS} - __lv)")
        - 1,
    )
    w_cum = Window.partitionBy(*group_cols).orderBy("__hi", "node")
    w_all = Window.partitionBy(*group_cols)
    c = h.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "__n", F.sum("cnt").over(w_all)
    )
    qdf = c.select(
        *group_cols, "__hi", "cum", "__n",
        F.explode(F.array(*[F.lit(q) for q in qpcts])).alias("qpct"),
    )
    target = F.expr("(qpct * __n + 99) div 100")
    return (
        qdf.filter(F.col("cum") >= target)
        .groupBy(*group_cols, "qpct")
        .agg(F.min("__hi").alias("est_scaled"), F.max("__n").alias("n_total"))
    )


def _qd_level_sql(col: str) -> str:
    """The 17-branch integer CASE ladder for floor(log2(node)) — shared
    between the Spark expression builder and the DuckDB oracle text."""
    branches = " ".join(
        f"WHEN {col} >= {1 << lv} THEN {lv}" for lv in range(QD_LEVELS, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"


def kmv_set_estimates(
    a: DataFrame, b: DataFrame, value_col: str, k: int = KMV_K
) -> DataFrame:
    """Theta-sketch-style SET OPERATIONS on KMV state: distinct-count
    estimates for A ∪ B and A ∩ B from the k smallest hashes of the union.

    U = the k smallest md5 hashes of A ∪ B (one merged KMV); union_est is
    the usual (k-1)/frac(kth); rho = |{h ∈ U : h ∈ A and h ∈ B}| and
    intersection_est = rho/k · union_est — the uniform-sample argument
    that powers theta sketches. Everything md5-exact, so sketch content
    AND estimates are engine-reproducible. Falls back to exact counts when
    the union has fewer than k distinct hashes (kth undefined).

    Scale shape (ADVICE r5): each side is truncated to ITS OWN k smallest
    hashes first via sort-limit (TakeOrderedAndProject — every map task
    keeps k minima, one k-sized merge; this is the per-side KMV/theta
    state). The k smallest of A∪B are a subset of (k-minima of A) ∪
    (k-minima of B), and any retained hash present in a side is by the
    same subset argument inside that side's k-minima, so kth_hash, rho and
    both estimates are IDENTICAL to the untruncated formulation — but the
    final ranked window now sees ≤ 2k rows instead of the corpus-sized
    distinct union (the old single-task scale failure). ``n_merged_hashes``
    counts the retained merged sample (= exact |A∪B| whenever that is < k,
    the only case the exact fallback uses it; capped at 2k otherwise)."""
    ha = (
        a.select(_md5(F.col(value_col)).alias("h")).distinct()
        .orderBy("h").limit(k).withColumn("__a", F.lit(1))
    )
    hb = (
        b.select(_md5(F.col(value_col)).alias("h")).distinct()
        .orderBy("h").limit(k).withColumn("__b", F.lit(1))
    )
    u = (
        ha.join(hb, "h", "full_outer")
        .select("h", F.coalesce("__a", F.lit(0)).alias("in_a"), F.coalesce("__b", F.lit(0)).alias("in_b"))
    )
    # ≤ 2k rows reach this window — bounded regardless of corpus size
    w = Window.orderBy("h")
    ranked = u.withColumn("rn", F.row_number().over(w))
    kset = ranked.filter(F.col("rn") <= k)
    agg = kset.agg(
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("rho"),
    ).crossJoin(u.agg(F.count("*").alias("n_merged_hashes")))
    kth_frac = F.conv(F.substring("kth_hash", 1, 15), 16, 10).cast("double") / F.pow(
        F.lit(2.0), F.lit(60)
    )
    union_est = F.when(
        F.col("kth_hash").isNull(), F.col("n_merged_hashes").cast("double")
    ).otherwise(F.lit(float(k - 1)) / kth_frac)
    return agg.select(
        "n_merged_hashes",
        "kth_hash",
        union_est.alias("est_union"),
        F.col("rho").cast("long").alias("rho"),
        F.when(F.col("kth_hash").isNull(), F.col("rho").cast("double"))
        .otherwise(F.col("rho").cast("double") / F.lit(float(k)) * (F.lit(float(k - 1)) / kth_frac))
        .alias("est_intersection"),
    )
