"""Native Bloom-filter semi-join pruning for keyed MERGE (SURVEY J4/J9).

Motivation (100 TB): the fallback MERGE keeps unmatched target rows via
``target LEFT ANTI JOIN batch``. When the batch is too large to broadcast,
that anti-join shuffles EVERY touched target row on the key even though a
typical re-scrape batch matches only a tiny fraction of them. A Bloom
filter over the batch's keys lets rows that are *definitely not* in the
batch bypass the join entirely; only "maybe" rows (true matches + the
false-positive tail) pay the shuffle. This is the same idea as Spark's
runtime bloom-filter join (``InjectRuntimeFilter``) — but those expressions
(``bloom_filter_agg`` / ``might_contain``) are internal-only and never fire
across the write boundary a MERGE has, so we build the filter ourselves.

Design — everything stays JVM-side and deterministic, no UDFs:

- two hash lanes from ``xxhash64`` (second lane seeded by an extra literal
  column), combined Kirsch–Mitzenmacher style ``pos_i = (h1 + i*h2) % m``.
  All arithmetic is pre-reduced mod ``m`` so it can't overflow under ANSI.
- build: per row explode the k positions, map to (word, bit), aggregate
  with ``bit_or`` — Spark's partial aggregation caps the shuffle at
  ``m/64`` rows *per map task*, independent of batch size. The finished
  filter is a single row holding ``array<bigint>`` (m=2^23 → 128 KiB),
  attached to the probe side via ``broadcast`` cross-join.
- probe: k native bit-tests against the broadcast array.

The prefilter is EXACT as used here: a false positive only routes an extra
row through the anti-join (which then keeps it); there are no false
negatives because both sides evaluate identical expressions.

Reference parity note: this is a pure performance device under the same
merge semantics as Mongo's keyed bulk upsert (data_migration.py:133-139);
it changes no results, only the shuffle volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._cache import memo

# golden-ratio int32 constant; any fixed literal works — it only has to make
# lane 2 independent of lane 1 (xxhash64 over a different arity/input).
_SEED2 = -1640531527

NUM_HASHES = 5

# sizing bounds: floor keeps tiny batches from degenerate filters,
# the cap bounds the broadcast at 2^26 bits = 8 MiB of words (past ~4M keys
# the fp tail grows gracefully — false positives only route extra rows
# through the anti-join, never change results).
_AUTO_MIN_BITS = 1 << 16
_AUTO_MAX_BITS = 1 << 26
_AUTO_BITS_PER_KEY = 16  # ~0.1% fp at k=5


def resolve_num_bits(batch: DataFrame) -> int:
    """The filter size: a power of two ≈ 16 bits per batch key
    (r16, guide §2.3/§3.2): the filter scales WITH the batch instead of a
    constant tuned for 1M keys — a 500-key decontamination list gets a 2^16
    filter (trivial assembly/broadcast), a 4M-key merge batch gets 2^26.
    Exactness does not depend on the size — any value yields identical
    query results — so the data-determined size is deterministic and safe
    under retries.

    One count job per distinct batch lineage per session: the memo key is
    the batch's ANALYZED-PLAN semantic hash (ADVICE r16), because
    merge_upsert builds a fresh ``deduped.select(*key_cols)`` object per
    call and a per-object memo would always miss. A (rare) 32-bit hash
    collision would only reuse a wrong SIZE, never a wrong result."""

    def _bits() -> int:
        n = max(batch.count(), 1)
        bits = _AUTO_MIN_BITS
        while bits < n * _AUTO_BITS_PER_KEY and bits < _AUTO_MAX_BITS:
            bits <<= 1
        return bits

    try:
        key = batch._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return _bits()
    return memo(batch.sparkSession, ("bloom_bits", key), _bits)


def _lanes(key_cols: list[str], num_bits: int | Column) -> tuple[Column, Column]:
    """(h1, step) both already reduced into [0, num_bits): overflow-free.
    ``num_bits`` may be a Column (the probe-side size derived from the
    broadcast words array) — identical arithmetic either way."""
    cols = [F.col(c) for c in key_cols]
    nb = F.lit(num_bits) if isinstance(num_bits, int) else num_bits
    h1 = F.pmod(F.xxhash64(*cols), nb)
    # step in [1, num_bits-1] so successive probes always move
    step = F.pmod(F.xxhash64(F.lit(_SEED2), *cols), nb - F.lit(1)) + F.lit(1)
    return h1, step


def _pow2() -> Column:
    """array<bigint> of the 64 single-bit longs (pyspark's shiftleft only
    takes a Python-int shift amount, so bit k is looked up, not shifted;
    bit 63 is the sign bit = two's-complement -(2^63))."""
    return F.array(
        *[F.lit(1 << i).cast("long") for i in range(63)], F.lit(-(2**63)).cast("long")
    )


def _word_ix(pos: Column) -> Column:
    return F.floor(pos / F.lit(64)).cast("int")


def _bit_val(pos: Column) -> Column:
    return F.try_element_at(_pow2(), (pos % 64).cast("int") + F.lit(1))


def bloom_build(batch: DataFrame, key_cols: list[str], num_bits: int) -> DataFrame:
    """Aggregate the batch's keys into a 1-row DataFrame with column
    ``__bf_words: array<bigint>`` of length ``num_bits/64``.

    Distributed end-to-end: partial ``bit_or`` combines map-side, the final
    assembly handles at most ``num_bits/64`` tiny rows. No driver bitmap.
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    nwords = num_bits // 64
    h1, step = _lanes(key_cols, num_bits)
    positions = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
            lambda i: F.pmod(h1 + i * step, F.lit(num_bits)),
        )
    )
    word_bits = (
        batch.select(positions.alias("pos"))
        .select(_word_ix(F.col("pos")).alias("w"), _bit_val(F.col("pos")).alias("b"))
        .groupBy("w")
        .agg(F.bit_or("b").alias("b"))
    )
    # Dense assembly via range LEFT JOIN + one sorted collect (r16, guide
    # §1.2 per-task work): the previous map_from_entries +
    # transform(sequence(nwords), i -> try_element_at(map, i)) form did an
    # O(set-bits) LINEAR map scan per element (ArrayBasedMapData lookup is
    # not hashed), i.e. O(nwords x set-bits) in ONE task — measured 2.34 s
    # of q82's 3.0 s at the 2^23-bit default with only ~500 keys. The join
    # form is O(nwords log nwords): nwords tiny (w, bits) rows through one
    # exchange, one single-task sorted gather (the unavoidable minimum for
    # a 1-row array), and it scales with filter size, not filter x keys.
    # array_sort on (w, b) structs orders by the unique w; b is never NULL
    # (bit_or of non-null bits), so missing words coalesce to 0 exactly as
    # before. Bit-identical filter words.
    idx = batch.sparkSession.range(nwords).select(F.col("id").cast("int").alias("w"))
    dense = idx.join(word_bits, "w", "left")
    return dense.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "b"))),
            lambda e: F.coalesce(e["b"], F.lit(0).cast("long")),
        ).alias("__bf_words")
    )


def bloom_might_contain(key_cols: list[str], words: Column, num_bits: int | None = None) -> Column:
    """Boolean probe: False ⇒ the key is definitely not in the built batch.

    Never NULL (NULL key components hash like the build side hashes them),
    so it is safe under ``filter`` on both the positive and negated branch.

    ``num_bits=None`` (ADVICE r16): derive the size from the words array
    itself (``size(words) * 64``) so a standalone probe can never silently
    use a size different from the build side's — a mismatch produces FALSE
    NEGATIVES (out-of-range words coalesce to 0). Callers that resolved the
    size (pruned_left_anti) pass the int; the expressions are identical.
    """
    nb: int | Column = F.size(words).cast("long") * F.lit(64) if num_bits is None else num_bits
    h1, step = _lanes(key_cols, nb)
    nb_col = F.lit(nb) if isinstance(nb, int) else nb
    cond = F.lit(True)
    for i in range(NUM_HASHES):
        pos = F.pmod(h1 + F.lit(i) * step, nb_col)
        word = F.coalesce(
            F.try_element_at(words, _word_ix(pos) + F.lit(1)), F.lit(0).cast("long")
        )
        cond = cond & (word.bitwiseAND(_bit_val(pos)) != F.lit(0))
    # NULL words make the derived size NULL under ANSI (size(NULL) is NULL)
    return F.coalesce(cond, F.lit(False))


def pruned_left_anti(target: DataFrame, batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """``target LEFT ANTI JOIN batch USING key_cols`` with Bloom pruning.

    Row-for-row identical to the plain anti-join (order aside): the
    definitely-absent stream bypasses the join; only bloom-positive rows
    (matches + fp tail) are anti-joined, so false positives are corrected,
    and false negatives cannot occur. NULL-keyed target rows survive either
    branch, matching anti-join's null-unsafe equality.

    The filter is sized from the batch's key count (resolve_num_bits, r16)
    so build/probe use one consistent size.
    """
    num_bits = resolve_num_bits(batch)
    bf = bloom_build(batch, key_cols, num_bits)
    tagged = target.crossJoin(F.broadcast(bf)).withColumn(
        "__bf_maybe",
        bloom_might_contain(key_cols, F.col("__bf_words"), num_bits),
    ).drop("__bf_words")
    definite = tagged.filter(~F.col("__bf_maybe")).drop("__bf_maybe")
    maybe = tagged.filter(F.col("__bf_maybe")).drop("__bf_maybe")
    return definite.unionByName(maybe.join(batch.select(*key_cols), key_cols, "left_anti"))
