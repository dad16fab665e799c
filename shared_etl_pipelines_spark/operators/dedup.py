"""Deduplication operators for LLM-training-data pipelines.

Four tiers, from exact to fuzzy, each a pure DataFrame function:

- exact:   md5 content hash, groupwise keeper election (one shuffle).
- near-exact: same, over normalize_text (case/punct/whitespace folded).
- MinHash+LSH: shingle -> k minhashes -> b bands -> bucket self-join ->
  Jaccard verification. The LSH band join is the 100 TB path: candidate
  generation is an equi-join on (band_idx, band_value), so the cross
  product never materializes; only same-bucket pairs are verified.
- SimHash: 16-bit locality-sensitive fingerprint from per-token votes;
  Hamming-distance candidates via bit_count(xor).

All hashing is md5/ascii-arithmetic so the DuckDB oracle can replicate
results bit-for-bit (see queries_llm.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.functions.text import (
    MINHASH_P,
    jaccard,
    minhash_params,
    normalize_text,
    shingles,
    token_hash16,
    tokens,
)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = False
) -> DataFrame:
    """Content-hash dedup: every row gets its hash, the elected keeper
    (min id per hash group), and an is_dup flag.

    At scale: a single hash-partition shuffle on the 32-char digest —
    uniformly distributed, no skew; the window min is a partial-aggregable
    pattern Spark executes without a second shuffle.
    """
    txt = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    out = df.select(F.col(id_col), F.md5(txt).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return out.withColumn("keeper", F.min(id_col).over(w)).withColumn(
        "is_dup", (F.col(id_col) != F.col("keeper")).cast("int")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col), shingles(tokens(F.col(text_col)), n=n).alias("sh")
    ).filter(F.size("sh") > 0)


def shingle_hash_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """One row per shingle position: ``(id, h)`` with h the 28-bit
    md5-derived shingle hash (same formula as functions.text.shingle_hashes).

    This is the fast path for MinHash at any scale: array higher-order
    lambdas (transform/filter bodies) are *interpreted per element* by
    Spark — they never enter whole-stage codegen — so building shingle
    arrays costs ~10x more CPU than the equivalent row plan. Here
    explode + lead() window + md5 + groupBy all stay inside codegen, and
    the window's doc_id shuffle is reused by the downstream groupBy.
    Docs with fewer than n tokens yield no rows (== the size>0 filter of
    shingle_sets). Duplicate shingles keep their rows — harmless for
    min() aggregation; use collect_set for set semantics.
    """
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "t")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", j).over(w) for j in range(1, n)]
    sh = tok.select(
        F.col(id_col),
        F.concat_ws(" ", *parts).alias("s"),
        F.lead("t", n - 1).over(w).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    return sh.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("s"), 1, 7), 16, 10).cast("long").alias("h"),
    )


def positional_shingle_hash_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Like shingle_hash_rows but keeps the (1-based) token position:
    ``(id, pos, h)``. Same codegen'd explode + lead() plan; position is
    what lets span-level dedup reconstruct WHERE inside a document a
    duplicated passage sits, not just that one exists.
    """
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos0", "t")
    )
    w = Window.partitionBy(id_col).orderBy("pos0")
    parts = [F.col("t")] + [F.lead("t", j).over(w) for j in range(1, n)]
    sh = tok.select(
        F.col(id_col),
        (F.col("pos0") + 1).alias("pos"),  # 1-based, matches SQL list indexing
        F.concat_ws(" ", *parts).alias("s"),
        F.lead("t", n - 1).over(w).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    return sh.select(
        F.col(id_col),
        "pos",
        F.conv(F.substring(F.md5("s"), 1, 7), 16, 10).cast("long").alias("h"),
    )


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Maximal duplicated token spans per document (substring-level exact
    dedup in the style of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" — adapted from suffix arrays to distributed
    token shingles).

    A position is *duplicated* when its n-gram shingle hash occurs >=
    min_count times corpus-wide (covers both cross-document and
    within-document repetition). Consecutive duplicated positions merge
    into maximal spans via gaps-and-islands: ``pos - row_number()`` is
    constant exactly on a run of consecutive positions.

    Returns one row per span: ``(id, span_start, span_tokens)`` with
    span_start 1-based and span_tokens = run_length + n - 1 (the span
    covers every token touched by a duplicated shingle).

    Scale: two shuffles total. (1) a window count over h — map-side
    partial aggregation into a uniform 28-bit key space, no self-join and
    no broadcast of a corpus-sized dup set; (2) the islands window +
    groupBy on id, which reuse one doc-keyed exchange. Nothing is
    quadratic; the all-positions frame is ~tokens-per-doc x rows, the
    same order as the MinHash signature build.
    """
    rows = positional_shingle_hash_rows(df, id_col, text_col, n=n)
    dup = rows.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("c") >= min_count)
    w = Window.partitionBy(id_col).orderBy("pos")
    grp = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return grp.groupBy(id_col, "grp").agg(
        F.min("pos").alias("span_start"),
        (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("span_tokens"),
    ).drop("grp")


def _cap_band_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Hot-bucket guard for banded-LSH candidate joins (VERDICT r5 #6).

    A degenerate band value — empty documents, boilerplate headers, a
    template shared by millions of pages — puts a huge population into
    ONE (band_idx, band_hash) bucket, and the candidate self-join goes
    quadratic in that bucket at 100 TB. The guard drops every bucket
    whose occupancy exceeds ``max_bucket_size`` BEFORE candidate
    generation: a partially-aggregated bucket count (map-side combine —
    the reduce side sees one row per bucket, not per doc) filtered to
    the over-cap keys, then a BROADCAST anti-join. On a normal corpus
    the hot set is empty, so the anti-join is a no-op against an empty
    broadcast. This replaces the original windowed-count form, which
    sorted every band row on BOTH sides of the self-join; warm-session
    A/B at sf0.1 measures both forms within noise of guard-off
    (BENCH.md round 6), but the aggregate form's reduce side is
    O(buckets) instead of O(band rows) — the shape that matters when
    one bucket holds millions of rows at 100 TB. Dropped buckets mean
    those pairs are simply not probed — the standard LSH engineering
    trade (a bucket that hot is almost never a real near-dup cluster,
    and a real one that size should go through ``duplicate_clusters``
    instead).
    ``lsh_bucket_audit`` surfaces exactly which buckets a cap drops and
    how big they were; ``None`` disables the guard."""
    if not max_bucket_size:
        return banded
    hot_df = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") > max_bucket_size)
        .select("band_idx", "band_hash")
    )
    # Materialize ONCE by collecting to the driver (ADVICE r6 #4: the
    # earlier persist() could never be released — the operator returns a
    # lazy plan, so a non-empty hot set leaked executor storage for
    # library callers). The hot set is bounded by |rows|/cap buckets and
    # the anti-join broadcasts it to every executor anyway, so the
    # collect is the same order as the broadcast it feeds. On a normal
    # corpus it is EMPTY — the guard then costs exactly one counting job
    # and the plan returns to the unguarded shape (round-6 bench: the
    # always-on anti-join held the LSH family 1.6-2.9x over floor under
    # the bench's cold-cache reps; the empty-set short-circuit returned
    # them).
    schema = hot_df.schema
    hot_rows = hot_df.collect()
    if not hot_rows:
        return banded
    hot = banded.sparkSession.createDataFrame(hot_rows, schema)
    return banded.join(F.broadcast(hot), ["band_idx", "band_hash"], "left_anti")


def lsh_bucket_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 256,
    hash_rows: DataFrame | None = None,
) -> DataFrame:
    """Band-bucket occupancy report for the MinHash-LSH family: one row
    per (band_idx, band_hash) with ``size`` and ``dropped`` (whether
    the default guard in ``minhash_lsh_pairs`` / ``levenshtein_near_
    dup_pairs`` / ``incremental_minhash_lsh`` would exclude it). Run it
    whenever a capped pair query returns suspiciously few pairs — the
    dropped-bucket count IS the recall debt the cap bought throughput
    with.

    ``hash_rows`` (VERDICT r13 #4): a prebuilt ``(id_col, h)`` frame —
    deduplicated or not, the min() signature is duplicate-insensitive —
    so a caller that also needs the shingle hashes builds them once:
    curation_drop_audit feeds this audit and its containment census
    from one frame in one plan, where the second consumer reads the
    shingles' ``id_col`` exchange as a ReusedExchange (nothing is
    persisted). ``n`` is ignored when it is given."""
    rows_per_band = k // bands
    hrows = (
        hash_rows
        if hash_rows is not None
        else shingle_hash_rows(df, id_col, text_col, n=n)
    )
    mins = [
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in ((i, minhash_params(i)) for i in range(k))
    ]
    sig = hrows.groupBy(id_col).agg(*mins)
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col), F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    )
    out = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    cap = F.lit(max_bucket_size) if max_bucket_size else F.lit(None).cast("long")
    return out.withColumn(
        "dropped", (cap.isNotNull() & (F.col("size") > cap)).cast("int")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH with Jaccard verification.

    bands of rows_per_band = k/bands minhashes; P(candidate) =
    1-(1-j^r)^b. Candidate generation = explode bands + self-equi-join on
    (band_idx, band_hash): linear in data + bucket sizes, never O(n²).
    Returned pairs are verified: jaccard >= threshold.

    ``max_bucket_size`` (default 256) is the built-in hot-bucket guard:
    buckets over the cap are excluded from candidate generation before
    the self-join (see ``_cap_band_buckets``; ``lsh_bucket_audit``
    reports what a cap drops). Normal corpora sit far under the cap —
    results are unchanged; adversarial same-band floods stop being
    quadratic.
    """
    rows_per_band = k // bands
    # ONE codegen'd pass builds everything MinHash needs: shingle-hash ROWS
    # (see shingle_hash_rows — array lambdas are interpreted, rows are not)
    # feed a single groupBy computing the k signature mins AND the distinct
    # hash set per doc. Persisted+materialized: bands, both sides of the
    # bucket self-join, and both verification joins reuse this cache, and
    # the downstream broadcast exchanges (built concurrently when the final
    # job starts) must not race to compute it. Jaccard verification runs on
    # the int sets: 4-8x smaller than string shingles when broadcast.
    hrows = shingle_hash_rows(df, id_col, text_col, n=n)
    mins = [
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in ((i, minhash_params(i)) for i in range(k))
    ]
    sig = hrows.groupBy(id_col).agg(*mins, F.collect_set("h").alias("hv")).persist()
    if not max_bucket_size:
        # the hot-bucket guard below otherwise materializes the persist
        # through its counting collect — don't pay a separate count job
        sig.count()
    hvdf = sig.select(F.col(id_col), F.col("hv"))
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]))
        for b in range(bands)
    ]
    banded = _cap_band_buckets(
        sig.select(
            F.col(id_col),
            F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
        ),
        max_bucket_size,
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col(f"l.band_idx") == F.col(f"r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .distinct()
        # Persist+materialize the (tiny) candidate set: the verify join is
        # then planned with known sizes (broadcast) and the band self-join
        # runs exactly once rather than once per downstream consumer.
        .persist()
    )
    cand.count()
    sh_a = hvdf.select(F.col(id_col).alias("doc_a"), F.col("hv").alias("sh_a"))
    sh_b = hvdf.select(F.col(id_col).alias("doc_b"), F.col("hv").alias("sh_b"))
    verified = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """New-batch-vs-corpus dedup: flag each batch document that already
    exists in the corpus exactly (content hash) or nearly (MinHash-LSH
    band collision + Jaccard verify). Output: one row per batch doc —
    (id, exact_dup, near_dup, keep).

    The asymmetry IS the scale story: the batch (a day's crawl) is small,
    the corpus is the 100 TB side. Every PROBE join streams the corpus
    against a BROADCAST batch-side build (hashes, band buckets,
    candidate ids) — no corpus shuffle in the probe path. The corpus
    signature derivation here (shingle window + groupBy) is the in-plan
    stand-in for what a warehouse precomputes write-side and stores with
    the table (the write_ann_index pattern); swap `signatures(corpus)`
    for a stored signature read and the whole plan is probe-only. Dedup
    WITHIN the batch is a separate (tiny, single-node-sized) exact_dedup
    pass — this operator covers batch-vs-corpus only.
    """
    rows_per_band = k // bands
    b_hash = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("th"))
    c_hash = corpus.select(F.md5(F.col(text_col)).alias("th"))
    # corpus streams against the broadcast batch hash set
    exact_ids = (
        c_hash.join(F.broadcast(b_hash), "th").select(F.col(id_col)).distinct()
    )

    def signatures(df: DataFrame) -> DataFrame:
        hrows = shingle_hash_rows(df, id_col, text_col, n=n)
        mins = [
            F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh_{i}")
            for i, (a, b) in ((i, minhash_params(i)) for i in range(k))
        ]
        return hrows.groupBy(id_col).agg(*mins, F.collect_set("h").alias("hv"))

    def banded(sig: DataFrame, *carry: Column) -> DataFrame:
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            )
            for b in range(bands)
        ]
        return sig.select(
            F.col(id_col),
            *carry,
            F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
        )

    b_sig = signatures(batch).persist()
    b_sig.count()  # materialize once: bands + verify both reuse it
    c_sig = signatures(corpus)
    # The corpus side carries its own hv THROUGH the band probe, so a
    # band hit verifies IN-ROW against the broadcast batch hv — the r13
    # form re-joined candidates against c_sig on c_id, a sort-merge
    # join that SHUFFLED the whole O(corpus) signature table (and ran
    # the corpus shingle pass a second time, since c_sig had two
    # consumers). Now c_sig has one consumer: one corpus pass, zero
    # corpus shuffles in the near path (VERDICT r13 #6). A pair
    # colliding in several bands verifies up to `bands` times — local
    # array compute on candidate rows only; the trailing distinct
    # dedupes ids exactly as before.
    near_ids = (
        banded(c_sig, F.col("hv").alias("hv_c"))
        .withColumnRenamed(id_col, "c_id")
        .join(
            F.broadcast(banded(b_sig).withColumnRenamed(id_col, "b_id")),
            ["band_idx", "band_hash"],
        )
        .join(
            F.broadcast(
                b_sig.select(
                    F.col(id_col).alias("b_id"), F.col("hv").alias("hv_b")
                )
            ),
            "b_id",
        )
        .withColumn("jaccard", jaccard(F.col("hv_b"), F.col("hv_c")))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    out = (
        batch.select(id_col)
        .join(exact_ids.withColumn("_e", F.lit(1)), id_col, "left")
        .join(near_ids.withColumn("_n", F.lit(1)), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_e"), F.lit(0)).alias("exact_dup"),
            F.coalesce(F.col("_n"), F.lit(0)).alias("near_dup"),
            (
                F.coalesce(F.col("_e"), F.lit(0)) + F.coalesce(F.col("_n"), F.lit(0))
                == 0
            )
            .cast("int")
            .alias("keep"),
        )
    )
    return out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exhaustive pairwise n-gram Jaccard (the exact baseline the LSH
    variant approximates). O(n²) — test-scale / within-block use only;
    at 100 TB always go through minhash_lsh_pairs."""
    sh = shingle_sets(df, id_col, text_col, n=n)
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document.

    Per token: 16-bit md5-derived hash; per bit: +1/-1 vote summed over
    tokens (explode + groupBy = one shuffle with map-side combine);
    bit set iff vote >= 0. Fingerprint = Σ bit<<b.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    tok = tok.withColumn("hv", token_hash16(F.col("t")))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        bit = F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return votes.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_candidates(
    sim: DataFrame, id_col: str, max_hamming: int = 2, n_bits: int = 16
) -> DataFrame:
    """Candidate near-dup pairs: Hamming distance of simhashes <= k.
    (16-bit simhash is a coarse filter — candidates, not verdicts.)

    Banded, not a theta self-join: the fingerprint is split into
    ``max_hamming + 1`` contiguous bit-bands; by pigeonhole, any pair
    within ``max_hamming`` flips leaves at least one band untouched, so an
    equi-join on (band_idx, band_value) finds EXACTLY the same pairs as
    the naive all-pairs scan — but as a hash join on bucket keys instead
    of a quadratic nested loop. Pairs matching in several bands are
    deduplicated; the Hamming filter then makes the verdict exact.
    """
    nb = max_hamming + 1
    base, rem = divmod(n_bits, nb)
    widths = [base + 1 if i < rem else base for i in range(nb)]
    # The fingerprint frame typically sits atop an expensive aggregation
    # (simhash16's 16-vote groupBy). Banding via ONE posexplode pass — not
    # a union of per-band projections — plus persist means that upstream
    # runs once, not once per band per join side.
    sim = sim.persist()
    sim.count()
    band_vals = []
    off = 0
    for wdt in widths:
        band_vals.append(
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << wdt) - 1))
        )
        off += wdt
    banded = sim.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*band_vals)).alias("_band", "_bv"),
    )
    a = banded.alias("l")
    b = banded.alias("r")
    cand = (
        a.join(
            b,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._bv") == F.col("r._bv"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        # Hamming filter BEFORE the pair-level distinct: a close pair can
        # match in up to nb bands, and dropping far pairs first keeps the
        # dedup shuffle to the (small) result set instead of all candidates.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand.select("doc_a", "doc_b", "hamming")


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    max_distance: int = 2,
    block_fn=None,
) -> DataFrame:
    """Fuzzy string matching: distinct-value pairs within ``max_distance``
    Levenshtein edits, candidate-pruned by a blocking key.

    Blocking is the scale contract: candidates are generated ONLY within a
    block (default: first character), turning the O(|V|²) distinct-value
    self-join into per-block hash-join buckets — the same shape as the
    LSH band join. Pairs split across blocks are not considered (standard
    blocking recall trade-off; use multiple passes with different
    block_fns to raise recall).
    """
    if block_fn is None:
        def block_fn(c):
            return F.substring(c, 1, 1)

    vals = df.select(F.col(text_col).alias("val")).distinct()
    vals = vals.withColumn("_blk", block_fn(F.col("val")))
    a = vals.alias("l")
    b = vals.alias("r")
    return (
        a.join(
            b,
            (F.col("l._blk") == F.col("r._blk")) & (F.col("l.val") < F.col("r.val")),
        )
        .withColumn("distance", F.levenshtein(F.col("l.val"), F.col("r.val")))
        .filter(F.col("distance") <= max_distance)
        .select(F.col("l.val").alias("val_a"), F.col("r.val").alias("val_b"), "distance")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    symmetric: bool = False,
) -> DataFrame:
    """Connected components by iterative min-label propagation: each node's
    label converges to the smallest node id reachable from it.

    The dedup endgame: near-dup PAIRS (MinHash/SimHash output) are edges;
    a component is one duplicate cluster, and min-id is its canonical
    keeper. Each iteration is one join + groupBy-min over the undirected
    edge list — O(E) per round, converging in O(diameter) rounds (near-dup
    clusters are small-diameter, so a handful).

    Cost discipline (this loop ran 4.6x over its floor on a cold driver
    run before): each round launches exactly ONE Spark job. The new label
    frame is lineage-cut with a NON-eager localCheckpoint that the
    convergence aggregate itself materializes, and convergence is detected
    by the label-sum scalar from that same aggregate — labels only ever
    decrease, so an unchanged sum means a fixpoint (decimal(38) keeps the
    sum exact at any node-id scale). No separate old-vs-new join job, no
    eager checkpoint job.

    Returns ``(node, component)`` — component = min node id in the
    component. Nodes appear iff they occur in an edge; union singleton
    nodes downstream if needed.
    """
    # No distinct on the undirected edge list: duplicate edges are absorbed
    # by the min-aggregation each round, and the dedup shuffle would cost
    # more than it saves (LSH pair output is already distinct pairs).
    # ``symmetric=True`` (r14): a caller whose edge list ALREADY contains
    # both directions (embedding_dbscan symmetrizes for its degree pass)
    # skips the union here — the old double-symmetrize duplicated every
    # edge row into each round's join.
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not symmetric:
        und = und.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    und = und.persist()
    label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    # seed with one propagation fused into the init: label = min(self,
    # direct neighbors) — one groupBy instead of an identity round. The
    # seed aggregate both materializes the persist and prices the first
    # convergence comparison.
    labels = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.min(F.least(F.col("a"), F.col("b"))).alias("component"))
        .persist()
    )
    prev_sum = labels.agg(label_sum).collect()[0]["s"]
    for _ in range(max_iter):
        # One join per round computes BOTH propagation terms. Treating
        # the label table itself as extra edges (node -> component) and
        # joining the combined edge list against labels on the
        # destination yields, per node: label(b) for every neighbor b
        # (the und rows) AND label(label(node)) (the label-edge row) —
        # the path-halving / pointer-jumping term that squares the
        # propagation distance per round, so convergence stays
        # O(log diameter). The old labels themselves need not be
        # unioned into the min: labels only ever decrease, so
        # label(label(n)) <= label(n) and dropping the identity term
        # cannot change the per-node minimum — the labels produced each
        # round are IDENTICAL to the previous two-join formulation,
        # with one broadcast join and one groupBy row-set fewer.
        aug = und.unionByName(
            labels.select(F.col("node").alias("a"), F.col("component").alias("b"))
        )
        new_labels = (
            aug.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        cur_sum = new_labels.agg(label_sum).collect()[0]["s"]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    und.unpersist()
    return labels


def prefix_filter_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """AllPairs-style prefix-filtered n-gram Jaccard join — the exact
    scale path for ngram_jaccard_pairs (same output, no all-pairs scan).

    Canonical shingle order = (corpus frequency asc, shingle asc):
    rarest first, ties broken lexically, so every executor derives the
    identical order from one broadcastable frequency table. For a doc
    with |S| distinct shingles the PREFIX is its first
    |S| - ceil(t*|S|) + 1 shingles in that order.

    Completeness (prefix-filtering lemma, Chaudhuri et al. 2006 /
    PPJoin, Xiao et al. 2008 — both sides prefix): J(A,B) >= t implies
    |A∩B| >= ceil(t/(1+t) * (|A|+|B|)) =: alpha, and alpha >=
    ceil(t*|A|) because |B| >= |A∩B| >= t*|A|. If the
    (|A|-alpha+1)-prefix of A and the (|B|-alpha+1)-prefix of B were
    disjoint, every common shingle would sit in the last alpha-1
    positions of one side or the other in the shared canonical order —
    capping |A∩B| at alpha-1, a contradiction. Our per-side prefix
    length |S|-ceil(t*|S|)+1 >= |S|-alpha+1, so joining PREFIX rows
    against PREFIX rows on the shingle finds every qualifying pair
    (r13: the former prefix-vs-ALL-rows probe was complete but
    overcautious — one-sided reasoning; the two-sided lemma halves the
    probe side AND drops the corpus-frequent shingles from it, which
    is what de-skews the join key). Candidates are then exactly
    verified on their full shingle arrays, so the output equals the
    O(n^2) baseline's bit-for-bit.

    Positional filter (the PPJoin refinement, r13): a match row knows
    its rank on both sides, so 1 + min(|A|-rn_A, |B|-rn_B) upper-bounds
    |A∩B| for the FIRST common shingle (all other common shingles rank
    after it on both sides). Rows whose bound cannot reach alpha are
    dropped before the pair-distinct; the first-match row of every true
    pair survives (its bound >= the true overlap >= alpha), so
    completeness holds. The ceil runs on an epsilon-slacked operand so
    a last-ulp float error can only weaken the filter, never overprune.

    Scale: cost concentrates in the prefix ⨝ prefix equi-join, linear
    in candidate count; rarest-first ordering keeps common shingles out
    of BOTH join sides, and the size-ratio filter (|B| >= t*|A|, a
    Jaccard necessity) plus the positional bound drop incompatible
    pairs before the pair-distinct. For adversarially skewed shingle
    distributions compose with operators/skew.py salting on the join
    key.

    Everything stays in whole-stage codegen: shingle ROWS come from
    explode(sequence) + slice + concat_ws (native expressions — the
    array-lambda path in functions.text.shingles is interpreted, which
    made the first cut of this operator slower than the LSH twin), and
    the verify arrays are rebuilt by collect_list so array_intersect
    (native) runs only on candidate pairs.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= n)
    # srows feeds five consumers (freq, ranked, sizes, orows, sharr) but
    # needs no persist: it ends in a distinct whose exchange is identical
    # in every subtree, so ReusedExchange computes it once per job
    # (verified — persisting it changed nothing at sf0.1).
    srows = (
        toks.select(
            "doc",
            F.explode(F.sequence(F.lit(1), F.size("toks") - n + 1)).alias("i"),
            "toks",
        )
        .select(
            "doc", F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), n)).alias("s")
        )
        .distinct()
    )
    w = Window.partitionBy("doc").orderBy("s_freq", "s")
    # corpus frequency as a window count over the shingle — one exchange
    # on s, versus the former groupBy(s) + self-join which paid the
    # aggregate AND re-exchanged srows into the join (r12 floor cut:
    # 6.6 -> 4.8 s warm at sf0.1, identical output).
    # persisted: prefix, the probe side, and the verify arrays all read
    # this frame; without the persist each consumer re-runs the
    # freq-window + ranking-window subtree (their exchange subtrees
    # differ, so ReusedExchange cannot dedupe them). Storage is released
    # by the session harness (engine.sweep_persistent_rdds).
    ranked = (
        srows.withColumn(
            "s_freq", F.count(F.lit(1)).over(Window.partitionBy("s"))
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .persist()
    )
    prefix_rows = ranked.filter(
        F.col("rn")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    )
    prefix = prefix_rows.select(
        F.col("doc").alias("pd"), F.col("sz").alias("p_sz"),
        F.col("rn").alias("p_rn"), "s",
    )
    # the probe side is ALSO a prefix (two-sided lemma, r13) — same
    # rows, so one shuffle of the persisted frame feeds both aliases
    orows = prefix_rows.select(
        F.col("doc").alias("od"), F.col("sz").alias("o_sz"),
        F.col("rn").alias("o_rn"), "s",
    )
    # alpha = min overlap a qualifying pair must reach; the tiny slack
    # makes the float ceil err toward keeping a candidate
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("p_sz") + F.col("o_sz"))
        - F.lit(1e-9)
    )
    cand = (
        prefix.join(orows, "s")
        # pd < od directly: both sides carry prefixes, so every true
        # pair surfaces from one ordered match row — no least/greatest
        .filter(
            (F.col("pd") < F.col("od"))
            # Jaccard >= t forces t <= |B|/|A| <= 1/t — prune size-
            # incompatible pairs before the expensive pair-distinct.
            & (F.col("o_sz") >= F.ceil(F.lit(threshold) * F.col("p_sz")))
            & (F.col("p_sz") >= F.ceil(F.lit(threshold) * F.col("o_sz")))
            # PPJoin positional bound: what overlap could this match
            # still produce, counting it plus everything ranked after
            # it on both sides?
            & (
                F.lit(1)
                + F.least(
                    F.col("p_sz") - F.col("p_rn"),
                    F.col("o_sz") - F.col("o_rn"),
                )
                >= alpha
            )
        )
        .select(F.col("pd").alias("doc_a"), F.col("od").alias("doc_b"))
        .distinct()
    )
    # ranked's window output keeps hashpartitioning(doc), so this
    # aggregate satisfies its required distribution with NO new exchange
    sharr = ranked.groupBy("doc").agg(F.collect_list("s").alias("sh"))
    a = sharr.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sharr.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def incremental_minhash_lsh(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """NEAR-dup probe of a new batch against an existing corpus — the
    continuous-crawl shape of minhash_lsh_pairs (and the LSH twin of
    incremental_dedup's exact-hash probe).

    Emits verified pairs where at least one side is new: (new, old) from
    probing the corpus' band buckets, plus (new, new) from the batch's
    self-join. (old, old) pairs are by definition already known and are
    never recomputed — that is the whole point: per refresh the work is
    O(|batch| + collisions), not O(|corpus|).

    Scale shape: the batch's band rows are BROADCAST against the corpus
    band index. At warehouse scale the corpus signatures/bands are a
    materialized write-side table (same posture as the ANN index in
    operators/similarity.py) — this function computes them in-flight
    only because the gate corpus is parquet-fresh; swapping in a stored
    index changes no downstream logic. Determinism: bucketing is a pure
    per-doc function of the text, so the incremental result equals the
    full-corpus LSH pair set restricted to pairs touching the batch —
    which is exactly what the SQL oracle checks.

    Overlapping ids (a re-crawled doc present on BOTH sides) are handled:
    the batch version wins — corpus rows whose id appears in the batch are
    dropped from the signature table before verification, and the probe
    join never emits self-pairs (doc_a == doc_b). Without this guard a
    shared id would yield a jaccard-1.0 self-pair and duplicate verified
    rows via the doubled signature (ADVICE r4 #1).

    ``max_bucket_size`` is the same hot-bucket guard as
    ``minhash_lsh_pairs``, applied to the COMBINED occupancy of each
    batch-touched bucket (corpus rows in that bucket + batch rows), so
    a capped incremental run still equals the capped full-corpus run
    restricted to pairs touching the batch. Occupancy is only counted
    for buckets the batch probes — the corpus-wide bucket census is
    never taken, preserving the O(|batch| + collisions) refresh cost.
    (A re-crawled id present on both sides counts twice toward the
    cap — conservative by one.)
    """
    rows_per_band = k // bands

    def prep(df: DataFrame, carry_hv: bool = False):
        hrows = shingle_hash_rows(df, id_col, text_col, n=n)
        mins = [
            F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh_{i}")
            for i, (a, b) in ((i, minhash_params(i)) for i in range(k))
        ]
        sig = hrows.groupBy(id_col).agg(
            *mins, F.collect_set("h").alias("hv")
        ).persist()
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(bands)
        ]
        # the stream (corpus) side carries its hv THROUGH the band probe
        # so candidates verify in-row (VERDICT r13 #6); the broadcast
        # (batch) side must stay narrow, so it never carries arrays
        carry = [F.col("hv").alias("_hv_c")] if carry_hv else []
        banded = sig.select(
            F.col(id_col),
            *carry,
            F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
        )
        return sig, banded

    sig_c, band_c = prep(corpus, carry_hv=True)
    sig_b, band_b = prep(batch)

    if max_bucket_size:
        # combined occupancy of batch-touched buckets only: corpus rows
        # stream against the broadcast batch-bucket keys (same shape as
        # the new_old probe below), so no corpus-wide census happens
        bkeys = band_b.select("band_idx", "band_hash").distinct()
        probed_c = band_c.join(F.broadcast(bkeys), ["band_idx", "band_hash"])
        hot_df = (
            probed_c.select("band_idx", "band_hash")
            .unionByName(band_b.select("band_idx", "band_hash"))
            .groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        # materialize once by collecting to the driver + empty-set
        # short-circuit, exactly like _cap_band_buckets (ADVICE r6 #4:
        # the earlier persist leaked — this operator returns a lazy
        # plan, so nothing could release it). The hot set feeds two
        # anti-joins that broadcast it anyway; on a normal corpus it is
        # empty and the probe plan stays the unguarded shape.
        hot_schema = hot_df.schema
        hot_rows = hot_df.collect()
        if hot_rows:
            hot = batch.sparkSession.createDataFrame(hot_rows, hot_schema)
            band_c = band_c.join(
                F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
            )
            band_b = band_b.join(
                F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
            )

    # Verification happens IN-ROW at the band match (VERDICT r13 #6):
    # the corpus side carries its hv through the probe and the batch hv
    # arrives by broadcast, so the old candidate persist + two
    # sort-merge joins — which SHUFFLED the whole O(corpus) signature
    # table twice — are gone entirely. A pair colliding in several
    # bands verifies up to `bands` times (local array compute on match
    # rows only); the final distinct collapses them to the same
    # (doc_a, doc_b, jaccard) rows as before. Batch-wins for re-crawled
    # ids is a broadcast LEFT lookup of the batch hv on the corpus-side
    # id, coalesced over the carried corpus hv.
    b_hv = sig_b.select(F.col(id_col).alias("_bid"), F.col("hv").alias("_hv_b"))
    new_old = (
        F.broadcast(band_b.alias("b"))
        .join(
            band_c.alias("c"),
            (F.col("b.band_idx") == F.col("c.band_idx"))
            & (F.col("b.band_hash") == F.col("c.band_hash"))
            # re-crawled doc on both sides: never pair a doc with itself
            & (F.col(f"b.{id_col}") != F.col(f"c.{id_col}")),
        )
        .join(F.broadcast(b_hv), F.col(f"b.{id_col}") == F.col("_bid"))
        .drop("_bid")
        .join(
            F.broadcast(
                b_hv.withColumnRenamed("_hv_b", "_hv_override")
            ),
            F.col(f"c.{id_col}") == F.col("_bid"),
            "left",
        )
        .withColumn(
            "jaccard",
            jaccard(
                F.col("_hv_b"),
                F.coalesce(F.col("_hv_override"), F.col("_hv_c")),
            ),
        )
        .select(
            F.least(F.col(f"b.{id_col}"), F.col(f"c.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"b.{id_col}"), F.col(f"c.{id_col}")).alias("doc_b"),
            "jaccard",
        )
    )
    new_new = (
        band_b.alias("l")
        .join(
            band_b.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .join(F.broadcast(b_hv), F.col(f"l.{id_col}") == F.col("_bid"))
        .drop("_bid")
        .join(
            F.broadcast(b_hv.withColumnRenamed("_hv_b", "_hv_r")),
            F.col(f"r.{id_col}") == F.col("_bid"),
        )
        .withColumn("jaccard", jaccard(F.col("_hv_b"), F.col("_hv_r")))
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            "jaccard",
        )
    )
    verified = (
        new_old.unionByName(new_new)
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def levenshtein_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    rel_threshold: float = 0.25,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Edit-distance near-dup: MinHash-banded candidates verified with
    EXACT Levenshtein distance — the string-edit member of the near-dup
    family (next to shingle-Jaccard, SimHash, embedding-cosine and
    perceptual-hash): it catches small in-place edits (typo fixes,
    template substitutions) that shift shingles but keep the character
    stream close.

    Candidates come from the same banded MinHash scheme as
    ``minhash_lsh_pairs`` (equi-join on (band_idx, band_hash) — never
    O(n^2), with the same ``max_bucket_size`` hot-bucket guard); the
    verify is one ``F.levenshtein`` per candidate pair, entirely
    JVM-side. A pair survives when
    ``edit_dist <= rel_threshold * max(len_a, len_b)``.

    At 100 TB the verify cost is bounded two ways: candidates are
    LSH-bucket pairs (linear in bucket co-occupancy, capped), and
    Spark's 3-arg ``levenshtein(l, r, threshold)`` early-exits the DP
    at the band limit — O(threshold * len) per pair instead of
    O(len^2). The 2-arg form is used here because the bound is
    relative; a cluster deployment with a fixed byte budget should pass
    the literal bound.

    Storage: the banded signature frame is persisted only until the
    candidate set materializes (eager count) and is unpersisted here;
    the candidate persist itself stays registered until the caller's
    action — release it like the graph operators (harnesses sweep via
    ``engine.sweep_persistent_rdds``; library callers wrap the call +
    action in ``engine.StorageScope``). (ADVICE r5 #4.)

    Returns ``(doc_a, doc_b, edit_dist, rel_dist)``.
    """
    rows_per_band = k // bands
    hrows = shingle_hash_rows(df, id_col, text_col, n=n)
    mins = [
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in ((i, minhash_params(i)) for i in range(k))
    ]
    sig = hrows.groupBy(id_col).agg(*mins)
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        )
        for b in range(bands)
    ]
    banded = _cap_band_buckets(
        sig.select(
            F.col(id_col),
            F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
        ),
        max_bucket_size,
    ).persist()
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .distinct()
        .persist()
    )
    cand.count()  # materialize candidates off the banded cache...
    banded.unpersist()  # ...then release it (ADVICE r5 #4)
    txt = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    ta = txt.select(F.col(id_col).alias("doc_a"), F.col("_t").alias("t_a"))
    tb = txt.select(F.col(id_col).alias("doc_b"), F.col("_t").alias("t_b"))
    dist = F.levenshtein(F.col("t_a"), F.col("t_b"))
    out = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("edit_dist", dist.cast("long"))
        .withColumn(
            "rel_dist",
            F.col("edit_dist")
            / F.greatest(F.length("t_a"), F.length("t_b")).cast("double"),
        )
        .filter(F.col("rel_dist") <= rel_threshold)
    )
    return out.select("doc_a", "doc_b", "edit_dist", "rel_dist")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 256,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment C(a->b) =
    |S(a) & S(b)| / |S(a)| — the quote/subset detector Jaccard misses
    (a short doc fully quoted inside a long one has high containment
    but low Jaccard). Output is DIRECTED: one row per ordered pair with
    C(a->b) >= threshold, so "a is contained in b" and the reverse are
    separate findings.

    Scale shape: per-doc DISTINCT shingle-hash rows -> global
    document-frequency cap (shingles in more than ``max_df`` docs are
    boilerplate and would drive the inverted join quadratic — the
    benchmark_contamination guard, mirrored in the oracle) -> shared-
    shingle equi-join + pair count + one size join. Never an all-pairs
    comparison; intermediate is sum over shingles of df^2, bounded by
    max_df * total shingle rows.
    """
    rows = shingle_hash_rows(df, id_col, text_col, n=n).select(
        id_col, "h"
    ).distinct()
    freq = rows.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    hot = freq.filter(F.col("_df") > max_df).select("h")
    # fx feeds FOUR consumers (both self-join sides, the size table, and
    # through them the output) — persist it once or the tokenize ->
    # window -> distinct pipeline re-runs per consumer (4 corpus scans
    # at 100 TB). The result is a lazy plan, so release is the caller's:
    # the session harness sweeps via engine.sweep_persistent_rdds;
    # library callers wrap call + action in engine.StorageScope (the
    # minhash_lsh_pairs sig-persist convention).
    fx = rows.join(F.broadcast(hot), "h", "left_anti").persist()
    sz = fx.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_a"))
    a = fx.select(F.col(id_col).alias("doc_a"), "h")
    b = fx.select(F.col(id_col).alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = inter.join(sz.withColumnRenamed(id_col, "doc_a"), "doc_a").select(
        "doc_a",
        "doc_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_a").cast("long").alias("n_a"),
        F.round(F.col("n_shared").cast("double") / F.col("n_a"), 4).alias(
            "containment"
        ),
    )
    return out.filter(
        F.col("n_shared").cast("double") / F.col("n_a") >= threshold
    )


def paragraph_dedup_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup profile.

    CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data") hashes every paragraph and drops all
    but one occurrence corpus-wide — the single highest-yield cleanup
    on web crawl, where boilerplate paragraphs repeat across millions
    of pages. The test corpus carries no newlines, so the paragraph
    unit here is a fixed non-overlapping ``chunk_tokens`` token window
    (the unit is a parameter; on real crawl pass paragraphs by
    splitting on blank lines upstream). Keeper = first occurrence in
    (id, chunk_idx) order; a chunk is dropped when its md5 occurs
    >= ``min_count`` times corpus-wide and it is not the keeper.

    Returns one profile row per document: total/duplicate chunk counts,
    token counts and the retained-token ratio a curation funnel gates
    on.

    Scale: two shuffles — (1) the window over the md5 key (uniform key
    space, map-side partials, no self-join, no corpus-sized broadcast),
    (2) the per-doc aggregate. Same shape as duplicated_spans; nothing
    quadratic, no driver traffic.
    """
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") >= 1)
        .withColumn(
            "nch",
            F.ceil(F.col("n_toks") / F.lit(chunk_tokens)).cast("int"),
        )
    )
    ch = base.select(
        F.col(id_col),
        F.col("n_toks"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("nch") - 1),
                lambda i: F.slice(
                    F.col("toks"), i * chunk_tokens + 1, chunk_tokens
                ),
            )
        ).alias("pos", "chunk"),
    ).select(
        id_col,
        "n_toks",
        "pos",
        F.size("chunk").alias("chunk_len"),
        F.md5(F.array_join("chunk", " ").cast("binary")).alias("h"),
    )
    wh = Window.partitionBy("h")
    who = wh.orderBy(id_col, "pos")
    marked = ch.withColumn("c", F.count(F.lit(1)).over(wh)).withColumn(
        "rn", F.row_number().over(who)
    ).withColumn(
        "dropped", (F.col("c") >= min_count) & (F.col("rn") > 1)
    )
    return (
        marked.groupBy(id_col, "n_toks")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.col("dropped").cast("long")).alias("n_dup_chunks"),
            F.sum(
                F.when(F.col("dropped"), F.col("chunk_len")).otherwise(0)
            ).cast("long").alias("tokens_dropped"),
        )
        .select(
            F.col(id_col),
            F.col("n_toks").cast("long").alias("tokens_total"),
            "n_chunks",
            "n_dup_chunks",
            "tokens_dropped",
            F.round(
                (F.col("n_toks") - F.col("tokens_dropped"))
                / F.col("n_toks").cast("double"),
                4,
            ).alias("retained_ratio"),
        )
    )
