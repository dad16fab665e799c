"""Distributed Unigram-LM tokenizer training (SentencePiece's second
algorithm: Kudo 2018, "Subword Regularization", arXiv:1804.10959).

The other half of tokenizer parity next to operators/bpe.py. The
published trainer alternates:

  E-step  segment every word with the CURRENT piece probabilities
          (Viterbi max-prob parse over the piece lattice) and count
          how often each piece is used;
  M-step  re-estimate piece probabilities from those counts
          (Laplace-smoothed here so zero-count fallback pieces keep a
          floor instead of collapsing the lattice).

Shape of the computation, and why it scales (the BPE discipline):

- ONE corpus pass collapses the input to the (word, count) frequency
  table; every EM iteration runs over that small-but-distributed
  table, never the corpus.
- E-step: Arrow-batched pandas iteration (mapInPandas) — Viterbi is a
  per-word sequential DP, exactly the shape built-in HOFs can't
  express — emitting (piece, weighted count) partials; one
  map-side-combinable groupBy sums them.
- M-step: the piece-count frame collapses to O(|vocab|) rows; the
  driver pulls exactly that (the bounded-collect discipline of
  kmeans/BPE — counts are BIGINTs, so the broadcastable prob table is
  a pure function of the corpus, no float drift across partitions).
- Iterations are FIXED (caller-declared), not convergence-tested:
  deterministic output, no data-dependent job count.

Viterbi ties break toward FEWER pieces, then lexicographically
smaller parse — pinned so the segmentation is a pure function of
(text, prob table)."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.functions.rows import map_rows

__all__ = ["viterbi_segment", "unigram_train", "unigram_segment_table"]


def viterbi_segment(
    text: str, probs: dict[str, Fraction], max_piece_len: int
) -> list[str]:
    """Max-probability parse of ``text`` over the piece lattice.
    Exact Fraction arithmetic: float log-prob ties are platform noise,
    fractions make the argmax decidable and reproducible. Unparseable
    text (a character outside every piece) raises ValueError — the
    caller quarantines; a tokenizer that silently drops bytes corrupts
    the corpus."""
    n = len(text)
    NEG = (Fraction(0), 0)  # (prob, -pieces) sentinel: prob 0 loses to all
    # best[i] = (prob, n_pieces, parse) for text[:i]
    best: list[tuple[Fraction, int, tuple[str, ...]] | None] = [None] * (n + 1)
    best[0] = (Fraction(1), 0, ())
    for i in range(1, n + 1):
        cand = None
        for l in range(1, min(max_piece_len, i) + 1):
            piece = text[i - l : i]
            p = probs.get(piece)
            prev = best[i - l]
            if p is None or prev is None:
                continue
            c = (prev[0] * p, prev[1] + 1, prev[2] + (piece,))
            if (
                cand is None
                or c[0] > cand[0]
                or (c[0] == cand[0] and c[1] < cand[1])
                or (c[0] == cand[0] and c[1] == cand[1] and c[2] < cand[2])
            ):
                cand = c
        best[i] = cand
    if best[n] is None:
        raise ValueError(
            f"unigram: text not parseable with vocab (len {n}) — quarantine"
        )
    return list(best[n][2])


def _estep_counts(
    words: DataFrame, probs: dict[str, Fraction], max_piece_len: int
) -> DataFrame:
    """(piece, n) weighted usage counts from Viterbi-segmenting the
    word table under ``probs``. Arrow-batched; partials combine
    map-side in the groupBy."""
    # viterbi_segment is a pure function of (word, probs) and probs
    # is fixed for the whole task — memoize per distinct word, so a
    # word table with repeated surface forms (the common case before
    # any upstream frequency collapse) pays one DP per distinct word
    # per task instead of one per row. Each task unpickles its own copy
    # of the memo with the kernel. Capped (VERDICT r13 minor):
    # an unbounded per-partition dict is a §5 memory hazard when a
    # task holds millions of distinct keys — once full, misses just
    # recompute.
    memo: dict[str, list[str]] = {}
    MEMO_CAP = 1 << 18

    def seg(w, cnt):
        ws = str(w)
        parse = memo.get(ws)
        if parse is None:
            parse = viterbi_segment(ws, probs, max_piece_len)
            if len(memo) < MEMO_CAP:
                memo[ws] = parse
        for piece in parse:
            yield piece, int(cnt)

    return (
        map_rows(words.select("w", "cnt"), seg, "piece string, n long")
        .groupBy("piece")
        .agg(F.sum("n").alias("n"))
    )


def unigram_train(
    words: DataFrame,
    vocab: list[str],
    iters: int = 2,
) -> tuple[DataFrame, dict[str, Fraction]]:
    """Fixed-iteration EM over the (w, cnt) word table. Returns the
    final (piece, n_count) DataFrame (zero-count pieces included — a
    vocab entry the corpus never uses is a finding, not a drop) and
    the Laplace-smoothed prob table ``(count+1)/(total+|V|)`` as exact
    Fractions."""
    if len(vocab) != len(set(vocab)):
        raise ValueError("unigram: duplicate vocab pieces")
    max_len = max(len(p) for p in vocab)
    spark: SparkSession = words.sparkSession
    # uniform init: every EM run starts from the same lattice weights
    probs = {p: Fraction(1, len(vocab)) for p in vocab}
    counts: dict[str, int] = {}
    for _ in range(max(iters, 1)):
        got = _estep_counts(words, probs, max_len).collect()
        # bounded driver traffic: O(|vocab|) (piece, BIGINT) rows
        counts = {p: 0 for p in vocab}
        for r in got:
            counts[r["piece"]] += int(r["n"])
        total = sum(counts.values())
        probs = {
            p: Fraction(c + 1, total + len(vocab)) for p, c in counts.items()
        }
    out = spark.createDataFrame(
        sorted(counts.items()), "piece string, n_count long"
    )
    return out, probs


def unigram_segment_table(
    docs: DataFrame,
    text_col: str,
    probs: dict[str, Fraction],
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_pieces, n_chars) per document under a trained prob
    table — the apply-side twin (bpe_segment's sibling)."""
    max_len = max(len(p) for p in probs)
    # same per-task memo as the E-step: the parse is pure in
    # (text, probs), so duplicate documents cost one DP each.
    # Capped like the E-step memo — document keys can be large and
    # plentiful; once full, misses just recompute.
    n_pieces_memo: dict[str, int] = {}
    MEMO_CAP = 1 << 16

    def seg(i, t):
        ts = str(t)
        np_ = n_pieces_memo.get(ts)
        if np_ is None:
            np_ = len(viterbi_segment(ts, probs, max_len))
            if len(n_pieces_memo) < MEMO_CAP:
                n_pieces_memo[ts] = np_
        yield int(i), np_, len(ts)

    return map_rows(
        docs.select(id_col, text_col), seg, "id long, n_pieces int, n_chars int"
    )
