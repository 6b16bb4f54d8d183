"""Benchmark decontamination: flag/remove training documents that
share a word n-gram with a held-out evaluation set (the GPT-3 /
Llama-style exact n-gram overlap rule; open pipelines like Dolma and
the HELM contamination audits use the same shape, typically n=8..13).

Scale shape: the benchmark side collapses to a DISTINCT set of
n-grams — small relative to the corpus (eval suites are MBs, corpora
are TBs) — so the join is a **broadcast** semi/left join: the 100 TB
side is scanned once, grams are generated in-row (explode), and no
corpus shuffle exists anywhere. The only aggregation is over MATCHED
rows (contaminated grams per doc), which is dup-rate-proportional,
not corpus-proportional. ``mode='remove'`` short-circuits to a
broadcast anti-join on doc ids.

Grams are over ``normalize_text`` word tokens (lowercase, collapsed
whitespace), matching :mod:`.repetition`'s convention, so the DuckDB
oracle replays byte-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import hof_let, normalize_text

__all__ = ["benchmark_ngrams", "decontaminate", "contamination_flags"]


def _gram_col(text_col, n: int) -> F.Column:
    # word array let-bound: the normalize/split/filter chain runs once
    # per row, not once per gram inside the interpreted transform
    def body(words):
        grams = F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
        # explicit guard: sequence(0, negative) counts DOWN in Spark
        return F.when(F.size(words) >= n, grams).otherwise(
            F.array().cast("array<string>"))

    return hof_let(
        F.filter(F.split(normalize_text(text_col), " "),
                 lambda w: F.length(w) > 0), body)


def benchmark_ngrams(bench: DataFrame, text_col: str = "text",
                     n: int = 13) -> DataFrame:
    """Distinct word n-grams of the evaluation set: one `gram` column.
    Distinct happens BEFORE the join so the broadcast side is minimal."""
    return (bench
            .select(F.explode(_gram_col(F.col(text_col), n)).alias("gram"))
            .distinct())


_HIT_ID = "__jss_decon_id"


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    mode: str = "flag",
    broadcast_hits: bool = True,
    gram_source: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram decontamination of ``docs`` against ``bench``.

    ``mode='flag'``: returns ``docs`` + ``contaminated`` (bool) +
    ``n_contaminated_grams`` (distinct benchmark grams hit, long).
    ``mode='remove'``: returns only clean rows, input schema intact.

    ``broadcast_hits`` (default): the per-doc hit frame — bounded by
    the number of CONTAMINATED docs, not the corpus — is broadcast
    into the final join, so the corpus is never shuffled anywhere in
    the plan. Set False only if the contaminated set itself outgrows
    broadcast (pathologically overlapping benchmark), trading a
    corpus-wide shuffle for it.

    ``gram_source``: an optional cheaply-computable SUPERSET of
    ``docs`` (same ``id_col``/``text_col``, every (id, text) pair of
    ``docs`` present identically) used to build the probe-gram side.
    When ``docs`` sits downstream of an expensive transform (e.g. the
    interpreted Gopher repetition filter in a composed pipeline), the
    hit-build branch would otherwise re-evaluate that whole transform
    a second time — the round-4 ``prepare_training_data_v2`` defect.
    Extra ids in the superset are harmless: hits join back onto
    ``docs`` by id, so ids absent from ``docs`` drop out (anti/left
    join alike), and contamination is a pure function of the text.
    Unlike a ``persist()`` of ``docs`` it costs zero memory at 100 TB.
    """
    if mode not in ("flag", "remove"):
        raise ValueError(f"mode must be 'flag' or 'remove', got {mode!r}")
    if id_col == _HIT_ID:
        raise ValueError(f"id_col may not be the internal alias {_HIT_ID!r}")
    grams = F.broadcast(benchmark_ngrams(bench, bench_text_col, n))
    # per-doc dedup happens IN-ROW (array_distinct before explode):
    # "distinct grams hit" needs no corpus-wide distinct shuffle
    if gram_source is None:
        probe = docs
    else:
        missing = [c for c in (id_col, text_col)
                   if c not in gram_source.columns]
        if missing:
            raise ValueError(
                f"gram_source lacks column(s) {missing}: it must be a "
                f"superset of docs carrying the same {id_col!r}/"
                f"{text_col!r} columns with identical (id, text) pairs")
        probe = gram_source
    doc_grams = probe.select(
        F.col(id_col).alias(_HIT_ID),
        F.explode(F.array_distinct(_gram_col(F.col(text_col), n))).alias("gram"),
    )
    hits = (doc_grams.join(grams, "gram")
            .groupBy(_HIT_ID)
            .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_grams")))
    if broadcast_hits:
        hits = F.broadcast(hits)
    if mode == "remove":
        return docs.join(hits.select(F.col(_HIT_ID).alias(id_col)),
                         on=id_col, how="left_anti")
    # re-flagging a previously flagged frame: overwrite, don't duplicate
    clash = [c for c in ("contaminated", "n_contaminated_grams")
             if c in docs.columns]
    if clash:
        docs = docs.drop(*clash)
    joined = docs.join(hits, docs[id_col] == hits[_HIT_ID], "left")
    return joined.select(
        *[docs[c] for c in docs.columns],
        F.col("n_contaminated_grams").isNotNull().alias("contaminated"),
        F.coalesce(F.col("n_contaminated_grams"), F.lit(0).cast("long"))
         .alias("n_contaminated_grams"),
    )


def contamination_flags(
    docs: DataFrame,
    bench_grams: list[str],
    n: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """Streaming-safe decontamination: the benchmark gram set is a
    driver-side list embedded as an array LITERAL and matched in-row
    via ``array_intersect`` — a stateless projection, so it drops into
    readStream -> writeStream unchanged (the join form of
    :func:`decontaminate` needs a streaming-illegal agg + join-back).
    Identical outputs to flag mode. Use when the benchmark gram set
    fits the driver (eval suites are MBs against a TB corpus); at
    pathological benchmark sizes use the batch join form.

    ``bench_grams`` comes from ``benchmark_ngrams(bench, n=n)`` —
    e.g. ``[r.gram for r in benchmark_ngrams(bench, n=13).collect()]``.
    """
    lit = F.lit(list(bench_grams)) if bench_grams else \
        F.array().cast("array<string>")
    hit = F.array_intersect(
        F.array_distinct(_gram_col(F.col(text_col), n)), lit)
    return docs.withColumns({
        "contaminated": F.size(hit) > 0,
        "n_contaminated_grams": F.size(hit).cast("long"),
    })
