"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship draft-07 validation over the sf0.001
``documents`` table (typed-row Column-expression path, zero Python on
executors) plus the per-row sha256 invariant column (input_hint).

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 / §2.9 and the training-data pipeline ops; each Spark
query is paired with an ANSI-SQL DuckDB oracle where the semantics are
SQL-expressible (all value-bearing columns aliased identically on both
sides, floats rounded to 6 decimals, counts cast to bigint). Round 4:
43 queries, 43 oracle-paired — hash-dependent operators use
SQL-reproducible hashes (sha256-derived SimHash bits and banded-LSH
hyperplane sign sums in exact decimal, OPH MinHash, mod-seeded
exact-decimal IVF, digest-tiled multimodal fake decodes, and — since
round 4 — the universal-hash FULL MinHash-LSH pipeline as the headline;
the xxhash64 fast path is timed separately in bench.py). New in
round 4: snapshot reconciliation (`snapshot_diff_orders` rows mode on
the slim-digest path + `_summary` on the exact struct-compare path).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from json_schema_spark.plans.runner import SparkValidator
from json_schema_spark.operators import checks as C
from json_schema_spark.operators.dedup import ensure_parallelism
from json_schema_spark.operators import dedup as D
from json_schema_spark.operators import drift as R
from json_schema_spark.operators import ledger as L
from json_schema_spark.operators import similarity as S
from json_schema_spark.operators import components as CC
from json_schema_spark.operators import chunking as CH
from json_schema_spark.operators import pii as P
from json_schema_spark.operators import sampling as SMP
from json_schema_spark.operators import reconcile as RC
from json_schema_spark.operators.incremental import (
    apply_changelog,
    incremental_validate,
)
from json_schema_spark.operators import text as T
from json_schema_spark.operators import repetition as REP
from json_schema_spark.operators import decontaminate as DC

# --------------------------------------------------------------- schemas

# Typed-row draft-07 schema over the documents table (SURVEY §2.2/§2.3:
# type, required, minimum/maximum, minLength, enum, pattern — compiled
# once on the driver to whole-stage-codegen'd Column expressions).
DOCS_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["doc_id", "text", "lang", "source", "n_chars"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 60},
        "lang": {"enum": ["en", "de", "es", "fr"]},
        "source": {"type": "string", "pattern": "^src1?[0-9]$"},
        "n_chars": {"type": "integer", "maximum": 400},
    },
}
DOCS_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

DOCS_VALID_SQL = (
    "(doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL "
    "AND source IS NOT NULL AND n_chars IS NOT NULL "
    "AND doc_id >= 0 AND length(text) >= 60 "
    "AND lang IN ('en','de','es','fr') "
    "AND regexp_matches(source, '^src1?[0-9]$') AND n_chars <= 400)"
)

# JSON-string-mode schema over events.props (variant expression path).
PROPS_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50}},
}

# Typed-row OBJECT-keyword schema (round-3: minProperties/maxProperties
# compile to presence-count sums, patternProperties/propertyNames/
# additionalProperties bind to the static field set — the round-2
# silent-drop holes, now oracle-gated).
OBJKW_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "minProperties": 4,
    "maxProperties": 5,
    "patternProperties": {"^n_": {"type": "integer", "minimum": 80}},
    "propertyNames": {"pattern": "^[a-z_]+$"},
    "additionalProperties": {"type": ["integer", "string"]},
}

# Map-column object keywords (dynamic key set: runtime key filters).
MAPKW_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["pm"],
    "properties": {"pm": {
        "type": "object",
        "minProperties": 2,
        "propertyNames": {"pattern": "^[a-z]+$"},
        "patternProperties": {"^l": {"enum": ["en", "de", "es", "fr"]}},
        "additionalProperties": {"pattern": "^src1?[0-9]$"},
    }},
}

# Conditional combinator schema (if/then/else + multipleOf, SURVEY §2.5).
COND_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer"}},
    "if": {"properties": {"k": {"minimum": 50}}},
    "then": {"properties": {"k": {"multipleOf": 2}}},
    "else": {"properties": {"k": {"multipleOf": 3}}},
}

_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]

_EN_SW = T.STOPWORDS["en"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table fanned out to session parallelism and, when that took a
    repartition, pinned as an InMemoryRelation. The local testdata
    tables are single parquet files (one scan partition), which (a)
    serializes per-row-heavy plans and (b) lets Catalyst push heavy
    row-local FILTERS below the fan-out repartition, back onto the
    single scan partition — exactly how prepare_training_data_v2
    shipped as a one-task stage in round 4. Persisting the
    repartitioned table pins the parallel layout: downstream filters
    evaluate above the cache, in parallel, and repeated bench passes
    skip the re-scan. Repeated calls build the identical plan, which
    Spark's CacheManager serves from the one existing cache entry. At
    cluster scale inputs already arrive with >= parallelism splits:
    ensure_parallelism is a no-op there and nothing is persisted."""
    src = _t(spark, sf_dir, name)
    df = ensure_parallelism(src)
    if df is not src and df.storageLevel == StorageLevel.NONE:
        df = df.persist()
    return df


# --------------------------------------------------------------- queries


def _q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tp(spark, sf_dir, "documents")
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")
    return v.apply_table(df, columns=DOCS_COLS, with_violations=False).select("doc_id", "valid")


def _q_violation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tp(spark, sf_dir, "documents")
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=DOCS_COLS)
    return (
        SparkValidator.violations_df(out, ["doc_id"])
        .groupBy("keyword", "json_path")
        .agg(F.count(F.lit(1)).alias("viol_count"))
    )


def _q_validate_documents_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same schema through the Arrow-batched pandas-UDF kernel over a
    JSON-serialized doc — differential check of the two engines against
    one oracle."""
    df = _tp(spark, sf_dir, "documents").withColumn(
        "doc", F.to_json(F.struct(*DOCS_COLS))
    )
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7", engine="udf")
    return v.apply_json(df, "doc", with_violations=False).select("doc_id", "valid")


def _q_validate_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tp(spark, sf_dir, "events")
    v = SparkValidator(PROPS_SCHEMA, dialect="draft7")
    return v.apply_json(df, "props", with_violations=False).select("event_id", "valid")


def _q_validate_events_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tp(spark, sf_dir, "events")
    v = SparkValidator(COND_SCHEMA, dialect="draft7")
    return v.apply_json(df, "props", with_violations=False).select("event_id", "valid")


def _q_validate_object_kw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-row object keywords over the documents table: property
    counts are presence sums (NULL = absent), ^n_ patternProperties
    binds to n_chars, every field must be integer-or-string via
    additionalProperties — all pure Column expressions."""
    df = _tp(spark, sf_dir, "documents")
    v = SparkValidator(OBJKW_SCHEMA, dialect="draft7", engine="expr")
    return v.apply_table(df, columns=DOCS_COLS, with_violations=False).select("doc_id", "valid")


def _q_validate_map_kw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column object keywords: a map<string,string> built from the
    lang/source columns, validated with minProperties + propertyNames +
    patternProperties + additionalProperties over the runtime key set
    (entries with NULL values are absent)."""
    df = _tp(spark, sf_dir, "documents").withColumn(
        "pm", F.create_map(F.lit("lang"), F.col("lang"),
                           F.lit("source"), F.col("source")))
    v = SparkValidator(MAPKW_SCHEMA, dialect="draft7", engine="expr")
    return v.apply_table(df, columns=["pm"], with_violations=False).select("doc_id", "valid")


def _q_violation_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed error model (EErrorType.java parity): violations bucketed
    by the error-kind enum via a codegen'd CASE chain."""
    df = _tp(spark, sf_dir, "documents")
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=DOCS_COLS)
    vdf = SparkValidator.violations_df(out, ["doc_id"], with_kinds=True)
    return vdf.groupBy("error_kind").agg(F.count(F.lit(1)).alias("cnt"))


def _q_violation_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-identical violation MESSAGE text, gated byte-for-byte:
    the expression path renders each keyword's MessageFormat template
    (results/EErrorType.java:5-34, ValidationError.java:27-33) with the
    instance value JVM-side (core/messages.py twins; round-4), and the
    DuckDB oracle re-renders the same strings in SQL."""
    df = _tp(spark, sf_dir, "documents")
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=DOCS_COLS)
    return (SparkValidator.violations_df(out, ["doc_id"])
            .select("doc_id", "json_path", "keyword", "message"))


def _q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.column_stats(_t(spark, sf_dir, "lineitem"), exact_distinct=True)


def _q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.length_histogram(_t(spark, sf_dir, "documents"), "text", bucket_width=64)


def _q_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.duplicate_keys(_t(spark, sf_dir, "events"), ["user_id", "event_type"])


def _q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.uniqueness_report(_t(spark, sf_dir, "orders"), ["o_orderkey"])


def _q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("okey"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("okey"))
    return C.referential_report(li, orders, ["okey"], broadcast_parent=True)


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return C.orphans(cust, ev, ["c_custkey"], broadcast_parent=True)


def _q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cur = ev.filter(F.col("event_type") == "click")
    base = ev.filter(F.col("event_type") == "view")
    return R.psi(cur, base, "value", lo=0.0, hi=500.0, buckets=20).select(
        F.round("psi", 6).alias("psi")
    )


def _q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cur = o.filter(F.col("o_orderkey") % 2 == 0)
    base = o.filter(F.col("o_orderkey") % 2 == 1)
    return R.ks_bucketed(cur, base, "o_totalprice", lo=0.0, hi=600000.0, buckets=100).select(
        F.round("ks", 6).alias("ks")
    )


def _orders_new_snapshot(orders: DataFrame) -> DataFrame:
    """Deterministic 'next version' of the orders snapshot, identically
    reconstructible in the DuckDB oracle: keys %53==0 removed, totalprice
    bumped on surviving %97==0 keys, %101==0 rows re-keyed (+1e8) as
    additions."""
    base = orders.filter(F.col("o_orderkey") % 53 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0,
               F.col("o_totalprice") + F.lit(1.5))
        .otherwise(F.col("o_totalprice")),
    )
    added = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000))
    return base.unionByName(added)


_RECONCILE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice"]


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot reconciliation on the 100 TB path: each side
    reduced to (key, xxhash64 digest) before the full-outer join, so
    the shuffle carries 16 bytes/row regardless of table width. The
    digest never leaves the plan — only the status classification is
    exposed — so the oracle pairs it by comparing the columns directly
    (a status mismatch would surface any digest/canonicalization bug)."""
    orders = _t(spark, sf_dir, "orders")
    return RC.snapshot_diff(
        orders, _orders_new_snapshot(orders), keys=["o_orderkey"],
        compare_cols=_RECONCILE_COLS, mode="rows", digest="xxhash64",
    )


def _q_snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary mode over the exact (struct-compare, digest=None) path —
    the zero-aliasing variant; counts all four classes."""
    orders = _t(spark, sf_dir, "orders")
    return RC.snapshot_diff(
        orders, _orders_new_snapshot(orders), keys=["o_orderkey"],
        compare_cols=_RECONCILE_COLS, mode="summary", digest=None,
    )


def _docs_new_snapshot(docs: DataFrame) -> DataFrame:
    """Deterministic next version of documents, reconstructible in the
    DuckDB oracle: doc_id %53==0 removed, %37==0 texts appended (length
    can cross minLength=60 upward), %97==0 n_chars bumped past
    maximum=400 (guaranteed valid->invalid flip), %101==0 rows re-keyed
    (+1e9) as additions."""
    base = (
        docs.filter(F.col("doc_id") % 53 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 37 == 0,
                   F.concat(F.col("text"), F.lit(" rev2")))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 97 == 0,
                   F.col("n_chars") + F.lit(500))
            .otherwise(F.col("n_chars")),
        )
    )
    added = docs.filter(F.col("doc_id") % 101 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000_000))
    return base.unionByName(added)


def _q_incremental_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-validation (operators/incremental.py): the draft-07
    validator runs ONLY on the snapshot delta (added/changed doc_ids);
    unchanged verdicts are carried from the prior run; removed rows
    drop. The oracle is a FULL validation of the new snapshot in DuckDB
    plus an independent delta classification — so both the verdict
    identity and the delta boundary are gated."""
    docs = _tp(spark, sf_dir, "documents")
    new = _docs_new_snapshot(docs)
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")

    def validate(df: DataFrame) -> DataFrame:
        return v.apply_table(df, columns=DOCS_COLS, with_violations=False) \
            .select("doc_id", "valid")

    prior = validate(docs)
    return incremental_validate(
        docs, new, ["doc_id"], validate, prior,
        content_cols=["text", "lang", "source", "n_chars"],
        digest="xxhash64", mark_revalidated="revalidated",
    )


def _q_incremental_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure changelog mode (operators/incremental.py:apply_changelog):
    the verdict table is maintained from the churn itself — upserted
    rows + removed keys — without the new snapshot ever being scanned.
    The changelog here over-approximates (every %37/%97/added key is
    listed as changed even where the mutation was a no-op, e.g. NULL
    text), which the operator contract declares safe; the oracle
    re-derives the same classification independently."""
    docs = _tp(spark, sf_dir, "documents")
    new = _docs_new_snapshot(docs)
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")

    def validate(df: DataFrame) -> DataFrame:
        return v.apply_table(df, columns=DOCS_COLS, with_violations=False) \
            .select("doc_id", "valid")

    prior = validate(docs)
    changed = new.filter(
        (F.col("doc_id") >= 1_000_000_000)
        | (F.col("doc_id") % 37 == 0)
        | (F.col("doc_id") % 97 == 0)
    )
    removed = docs.filter(F.col("doc_id") % 53 == 0).select("doc_id")
    return apply_changelog(
        prior, changed, ["doc_id"], validate, removed_keys=removed,
        mark_revalidated="revalidated",
    )


def _q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_keep_first(_t(spark, sf_dir, "documents")).select("doc_id")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline exact n-gram Jaccard = the AllPairs prefix-filtered
    plan (round-3 verdict: the plain inverted-index headline was the
    one remaining perf-weak query — its prefix twin IS the scale path,
    with identical results, so it is now the headline). The
    inverted-index formulation stays oracle-gated as
    ``ngram_jaccard_exact_documents`` to prove the equality."""
    pairs = D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=3, threshold=0.7,
        word_grams=True, prefix_filter=True,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash-LSH pipeline (signatures -> banding -> candidate
    join -> exact-Jaccard verify) under the driver's oracle gate.

    The headline hash is ``universal`` (round-3 verdict "What's
    wrong #2"): a Horner code-point-polynomial 31-bit shingle hash +
    universal (a*h+b) mod 2^31-1 mixing (sha256-derived driver-side
    constants), band keys joined on the raw signature-slice string — all of which DuckDB replicates bit-for-bit
    (``_minhash_sha_oracle_sql``), so the ENTIRE pipeline is
    hash-gated, not rows-only. ``hash_fn='xxhash64'`` remains the
    library fast path (one JVM hash per shingle instead of a sha256);
    it shares this exact plan shape, is recall-asserted in pytest
    (tests/test_pipeline_ops.py) and timed separately in bench.py as
    ``minhash_neardup_xx_documents``."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit("")))
    pairs = D.minhash_lsh_pairs(
        docs, shingle_n=5, num_hashes=64, bands=16, threshold=0.7,
        hash_fn="universal",
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _pii_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic documents carry no PII, so the query weaves
    deterministic doc_id-derived PII tokens into the text — identically
    reconstructible in the DuckDB oracle — before scrubbing. concat_ws
    skips the NULL branches, so coverage varies per doc."""
    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn("text", F.concat_ws(
        " ",
        F.coalesce(F.col("text"), F.lit("")),
        F.concat(F.lit("user"), d.cast("string"), F.lit("@example.com")),
        F.when(d % 3 == 0, F.concat(
            F.lit("+1 555 "), F.lpad((d % 10000).cast("string"), 7, "0"))),
        F.when(d % 5 == 0, F.concat(
            F.lit("4111 1111 1111 "), F.lpad((d % 10000).cast("string"), 4, "0"))),
        F.when(d % 7 == 0, F.concat_ws(
            ".", (d % 256).cast("string"), ((d * 7) % 256).cast("string"),
            ((d * 13) % 256).cast("string"), ((d * 29) % 256).cast("string"))),
        F.when(d % 11 == 0, F.concat(
            F.lit("078-05-"), F.lpad((d % 10000).cast("string"), 4, "0"))),
    ))


def _q_prepare_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-assembly pipeline, composed from the
    individually-gated operators: exact dedup (keep min id per
    normalized-content sha) -> quality scoring -> language ID ->
    keep prose-quality docs in target languages with sane token counts
    -> PII redaction -> stable train/valid/test split. One DuckDB
    oracle replays the WHOLE composition, so operator interactions
    (filter order, column flow, float op order in the score) are gated,
    not just the pieces."""
    docs = _tp(spark, sf_dir, "documents")
    deduped = D.dedup_keep_first(docs)
    scored = T.lang_id(T.quality_score(deduped))
    kept = scored.where(
        (F.col("quality_score") >= 0.5)
        & F.col("lang_pred").isin("en", "de", "es", "fr")
        & (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000))
    red = P.redact_pii(kept)
    out = SMP.train_valid_test_split(red, (0.9, 0.05, 0.05), seed=13)
    return out.select(
        "doc_id", "lang_pred", "split", "quality_score",
        F.sha2(F.col("redacted"), 256).alias("redacted_sha"))


def _q_prepare_training_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern corpus-assembly recipe, extending the v1
    composition with the round-4 stages: exact dedup -> Gopher
    repetition filter (all table-A1 thresholds) -> quality + language
    gating -> benchmark n-gram decontamination (remove mode, held-out
    set = documents with doc_id % 37 == 0) -> PII redaction -> stable
    splits. One DuckDB oracle replays the whole composition; v1 stays
    untouched for cross-session bench comparability.

    Round-5 shape fixes (r4 verdict "What's wrong #1"): the table
    arrives via ``_tp`` (parallel + cache-pinned, so the interpreted
    Gopher filter cannot sink below the fan-out repartition onto one
    task), and decontamination probes grams from the CHEAP raw table
    (``gram_source=docs``) so the expensive filter chain is evaluated
    once, in the main branch only — not a second time inside the
    hit-build branch."""
    docs = _tp(spark, sf_dir, "documents")
    deduped = D.dedup_keep_first(docs)
    rep = REP.gopher_repetition_filter(deduped)
    scored = T.lang_id(T.quality_score(rep))
    kept = scored.where(
        (F.col("quality_score") >= 0.5)
        & F.col("lang_pred").isin("en", "de", "es", "fr")
        & (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000))
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    clean = DC.decontaminate(kept, bench, n=5, mode="remove",
                             gram_source=docs)
    red = P.redact_pii(clean)
    out = SMP.train_valid_test_split(red, (0.9, 0.05, 0.05), seed=13)
    return out.select(
        "doc_id", "lang_pred", "split", "quality_score",
        F.sha2(F.col("redacted"), 256).alias("redacted_sha"))


def _q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus assembly (operators/sampling.py): rebalance
    languages with per-stratum sha256-hash sampling (keep all en, half
    of de/fr, a fifth of zh), then assign stable 80/10/10
    train/valid/test splits — every row's fate a pure function of
    (doc_id, seed), replayed exactly by the DuckDB oracle."""
    docs = _t(spark, sf_dir, "documents")
    kept = SMP.stratified_sample(
        docs, "lang",
        {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.2},
        default_fraction=0.0, seed=7)
    out = SMP.train_valid_test_split(kept, (0.8, 0.1, 0.1), seed=11)
    return out.select("doc_id", "lang", "split")


def _q_chunk_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char windows every 150 chars
    (operators/chunking.py): explode(sequence) Generate node, zero
    shuffle, zero Python; oracle replays with unnest(range(k))."""
    out = CH.chunk_documents(_t(spark, sf_dir, "documents"),
                             size=200, stride=150, by="chars")
    return out.select("doc_id", "chunk_id", "chunk_start",
                      F.sha2(F.col("chunk_text"), 256).alias("chunk_sha"))


def _q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window variant: 32-token windows every 24 tokens over a
    single-space split, rejoined — chunk_start is a token index."""
    out = CH.chunk_documents(_t(spark, sf_dir, "documents"),
                             size=32, stride=24, by="tokens")
    return out.select("doc_id", "chunk_id", "chunk_start",
                      F.sha2(F.col("chunk_text"), 256).alias("chunk_sha"))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (operators/pii.py): per-kind JVM regexp
    counts and the sha256 of the fully redacted text, both oracle-gated
    — the hash pins every byte of every replacement, so the Java and
    RE2 regex engines must agree on every match boundary."""
    enriched = _pii_enriched(spark, sf_dir)
    out = P.detect_pii(enriched)
    out = P.redact_pii(out)
    cols = [F.col(f"pii_{k}").cast("long").alias(f"pii_{k}")
            for k in P.PII_PATTERNS]
    return out.select(
        "doc_id", *cols, F.col("pii_total"),
        F.sha2(F.col("redacted"), 256).alias("redacted_sha"))


def _q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: the oracle-able sha-universal MinHash
    pairs closed under transitivity by the alternating large-star /
    small-star rounds (``operators/components.py``) — (id, component)
    with component = min id of the connected component. The DuckDB
    oracle computes the same closure with a recursive CTE, so the
    distributed O(log n)-round algorithm is gated against an exact
    transitive closure."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit("")))
    pairs = D.minhash_lsh_pairs(
        docs, shingle_n=5, num_hashes=64, bands=16, threshold=0.7,
        hash_fn="universal",
    )
    return CC.connected_components(pairs)


def _q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup dedup: keep ONE document per cluster (the
    min id) plus all unclustered documents — what a training-data
    pipeline actually ships, vs the pairs diagnostics."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit("")))
    pairs = D.minhash_lsh_pairs(
        docs, shingle_n=5, num_hashes=64, bands=16, threshold=0.7,
        hash_fn="universal",
    )
    return CC.dedup_keep_canonical(docs, pairs).select("doc_id")


def _q_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain inverted-index formulation of exact n-gram Jaccard —
    O(sum posting^2) on Zipf corpora, so it is NOT the scale path; it
    stays oracle-gated purely to prove the prefix-filtered headline
    (AllPairs/SSJoin, Bayardo WWW'07) returns IDENTICAL results."""
    pairs = D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=3, threshold=0.7, word_grams=True
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents"))


def _q_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_oph_digest(_t(spark, sf_dir, "documents"))


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = D.embedding_neardup_pairs(emb, threshold=0.25, bands=8, planes=12, seed=42)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 10)
    out = S.brute_force_topk(emb, q, k=5)
    return out.select("query_id", "item_id", "rank", F.round("cosine", 6).alias("cosine"))


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 10)
    assigned, cents = S.build_ivf(emb, n_centroids=8, iters=2)
    out = S.ivf_topk(assigned, cents, q, k=5, n_probe=4)
    return out.select("query_id", "item_id", "rank", F.round("cosine", 6).alias("cosine"))


def _q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the IVF probe path vs the exact brute-force oracle —
    one row, single int/int division (bit-stable cross-engine)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 10)
    assigned, cents = S.build_ivf(emb, n_centroids=8, iters=2)
    ivf = S.ivf_topk(assigned, cents, q, k=5, n_probe=4).select("query_id", "item_id")
    bf = S.brute_force_topk(emb, q, k=5).select("query_id", "item_id")
    hit = ivf.join(bf, ["query_id", "item_id"], "inner")
    return hit.agg((F.count(F.lit(1)) / F.lit(50)).alias("recall"))


def _q_partition_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_rule headline artifact: per-bucket pass/fail + metrics
    ledger with a sha256 digest of the sorted violation lines, over a
    deterministic key bucket (stable across repartitionings)."""
    df = _tp(spark, sf_dir, "documents")
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=DOCS_COLS).withColumn(
        "bucket", F.pmod(F.col("doc_id"), F.lit(8))
    )
    led = L.partition_ledger(out, key_col="doc_id", part_col="bucket")
    return led.select(
        "partition_id", "rows_scanned", "valid_rows", "violation_rows",
        "violations", "violations_sha256",
    )


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = T.quality_features(_tp(spark, sf_dir, "documents"))
    return feat.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = T.lang_id(_tp(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang_pred", "lang_pred_score")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint(_tp(spark, sf_dir, "documents")).select("doc_id", "fp_sha256")


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals + the table-A1 keep/drop verdict
    (`operators/repetition.py`): one projection (interpreted HOFs,
    shared subtrees let-bound once — round 5), zero shuffle/Python.
    Signals rounded to 6 dp for the hash compare; the keep verdict is
    computed on the UNROUNDED signals (both engines)."""
    feat = REP.repetition_features(_tp(spark, sf_dir, "documents"))
    keep = F.lit(True)
    for name, limit in REP.GOPHER_THRESHOLDS.items():
        keep = keep & (F.col(name) <= F.lit(limit))
    return feat.select(
        "doc_id",
        *[F.round(F.col(k), 6).alias(k) for k in REP.GOPHER_THRESHOLDS],
        keep.alias("gopher_keep"),
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination (`operators/decontaminate.py`):
    held-out set = documents with doc_id % 37 == 0 (a deterministic
    stand-in eval suite), word 5-grams, broadcast semi-join — the
    corpus side never shuffles."""
    docs = _tp(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = DC.decontaminate(docs, bench, n=5)
    return out.select("doc_id", "contaminated", "n_contaminated_grams")


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the driver's correctness gate: binary
    image column synthesized from doc ids (sha256-derived bytes), then
    the Arrow-batched ``mapInPandas`` decode/feature kernel in
    deterministic fake mode. Oracle-able because the fake pixels tile
    the 32-byte digest of sha256(hex(sha256(id))): every image row
    repeats the digest, so mean_luma and the 8x8 aHash collapse to
    closed-form byte arithmetic DuckDB replicates exactly (see
    ``_image_features_oracle_sql``)."""
    from json_schema_spark.operators.multimodal import (
        image_features, synth_binary_column)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    imgs = synth_binary_column(docs, id_col="doc_id", width=32, height=32)
    return image_features(imgs, decode="fake").select(
        "id", "width", "height", "n_bytes", "mean_luma", "phash")


def _image_features_oracle_sql() -> str:
    """DuckDB replica of fake-mode :func:`image_features` over
    ``synth_binary_column(documents)``. Derivation: data =
    utf-8(hex(sha256(id))) (64 bytes), pixels = sha256(data) digest
    tiled to 32x32 — so every image ROW equals the digest. Hence
    mean_luma = sum(digest)/32; the 8x8 block-mean column c is
    g_c = mean(digest[4c..4c+3]) for every block row, and
    phash = sum_c [g_c > mean_luma] * 0x0101010101010101 * 2^c,
    wrapped to signed 64-bit like numpy's uint64->int64 cast."""
    gcols = ", ".join(
        f"sum(CASE WHEN i // 4 = {c} THEN byte END) / 4.0 AS g{c}"
        for c in range(8))
    phash = " + ".join(
        f"(CASE WHEN g{c} > mean_luma THEN 72340172838076673::HUGEINT * {1 << c} "
        "ELSE 0 END)" for c in range(8))
    return f"""
        WITH h AS (
          SELECT doc_id AS id, sha256(sha256(doc_id::VARCHAR)) AS hx FROM documents
        ),
        b AS (
          SELECT id, i,
            ((strpos('0123456789abcdef', substring(hx, 2*i+1, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substring(hx, 2*i+2, 1)) - 1))::BIGINT AS byte
          FROM h, (SELECT unnest(range(32)) AS i)
        ),
        agg AS (
          SELECT id, sum(byte) / 32.0 AS mean_luma, {gcols} FROM b GROUP BY id
        ),
        ph AS (SELECT id, mean_luma, ({phash}) AS ph FROM agg)
        SELECT id, 32::INT AS width, 32::INT AS height, 64::INT AS n_bytes,
               mean_luma,
               (CASE WHEN ph >= 9223372036854775808::HUGEINT
                     THEN ph - 18446744073709551616::HUGEINT ELSE ph END)::BIGINT
                 AS phash
        FROM ph
    """


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline under the driver's gate: binary clips synthesized
    from doc ids, then the Arrow-batched signal-feature kernel in
    deterministic fake mode. Oracle-able because the fake 4096-sample
    signal tiles the 16 int16 samples of a sha256 digest, and every
    feature is integer arithmetic scaled by powers of two — rms, peak
    and zero-cross are bit-identical across numpy and SQL (see
    ``_audio_features_oracle_sql``)."""
    from json_schema_spark.operators.multimodal import audio_features

    clips = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.sha2(F.col("doc_id").cast("string"), 256).cast("binary").alias("data"),
    )
    out = audio_features(clips, decode="fake")
    return out.select(
        "id", "sample_rate", "n_samples", "duration_s",
        F.round("rms", 6).alias("rms"), F.round("peak", 6).alias("peak"),
        F.round("zero_cross_rate", 6).alias("zero_cross_rate"))


def _audio_features_oracle_sql() -> str:
    """DuckDB replica of fake-mode :func:`audio_features` over clips of
    utf-8(hex(sha256(id))) bytes. The fake signal is the sha256 digest
    of the clip bytes read as 16 little-endian int16 samples, tiled to
    4096 — so sum(x^2) = 256 * sum(k^2) / 2^30 (exact in double: every
    partial sum is a dyadic rational under 2^53), peak = max|k|/32768,
    and zero-cross counts sign flips over the 4095 adjacent pairs of
    the tiled sequence (np.signbit(+0.0) is false = ``k < 0``)."""
    return """
        WITH h AS (
          SELECT doc_id AS id, sha256(sha256(doc_id::VARCHAR)) AS hx FROM documents
        ),
        s AS (
          SELECT id, j,
            (((strpos('0123456789abcdef', substring(hx, 4*j+1, 1)) - 1) * 16 +
              (strpos('0123456789abcdef', substring(hx, 4*j+2, 1)) - 1)) +
             ((strpos('0123456789abcdef', substring(hx, 4*j+3, 1)) - 1) * 16 +
              (strpos('0123456789abcdef', substring(hx, 4*j+4, 1)) - 1)) * 256
            )::BIGINT AS ku
          FROM h, (SELECT unnest(range(16)) AS j)
        ),
        k AS (SELECT id, j, CASE WHEN ku >= 32768 THEN ku - 65536 ELSE ku END AS k
              FROM s),
        e AS (
          SELECT id, i, k, lag(k) OVER (PARTITION BY id ORDER BY i) AS pk
          FROM (SELECT unnest(range(4096)) AS i), k AS kk
          WHERE kk.j = i % 16
        ),
        zc AS (
          SELECT id, sum(CASE WHEN pk IS NOT NULL AND (k < 0) != (pk < 0)
                         THEN 1 ELSE 0 END) AS n_flip
          FROM e GROUP BY id
        ),
        base AS (
          SELECT id,
            round(sqrt((sum(k*k) * 256)::DOUBLE / 1073741824.0 / 4096.0), 6) AS rms,
            round(max(abs(k)) / 32768.0, 6) AS peak
          FROM k GROUP BY id
        )
        SELECT base.id, 8000::INT AS sample_rate, 4096::BIGINT AS n_samples,
               0.512::DOUBLE AS duration_s, rms, peak,
               round(n_flip / 4095.0, 6) AS zero_cross_rate
        FROM base JOIN zc ON base.id = zc.id
    """


def _q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing under the driver's gate: clip
    byte-length varies per doc (1-5 repeats of the 64-char digest hex),
    fake decode derives the frame count from that length, and every
    10th frame yields constant-luma stats — the row explosion, sampling
    stride and per-frame schema are exactly replicable in SQL."""
    from json_schema_spark.operators.multimodal import video_features

    clips = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.expr(
            "cast(repeat(sha2(cast(doc_id as string), 256), "
            "1 + pmod(doc_id, 5)) as binary)").alias("data"),
    )
    return video_features(clips, every_n=10, decode="fake").select(
        "id", "frame_idx", "width", "height", "mean_y", "std_y")


def _video_features_oracle_sql() -> str:
    """DuckDB replica of fake-mode :func:`video_features`: clip bytes =
    utf-8 hex digest repeated (1 + id % 5) times, so len = 64 * reps;
    fake frame count = (len % 97) + 30; every 10th frame is a constant
    8x8 plane of luma (idx * 7) % 256 (mean exact, std 0)."""
    return """
        WITH n AS (
          SELECT doc_id AS id, ((64 * (1 + doc_id % 5)) % 97) + 30 AS nf
          FROM documents
        ),
        f AS (SELECT id, unnest(range(0, nf, 10)) AS frame_idx FROM n)
        SELECT id, frame_idx::INT AS frame_idx, 8::INT AS width,
               8::INT AS height, ((frame_idx * 7) % 256)::DOUBLE AS mean_y,
               0.0::DOUBLE AS std_y
        FROM f
    """


def _q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("double"), 2)
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
    )


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: typed-row draft-07 validation of sf0.001 documents —
    verdict + violations + the per-row sha256 invariant (input_hint)."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    v = SparkValidator(DOCS_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=DOCS_COLS)
    return out.select(
        "doc_id", "valid", "violations", F.sha2(F.col("text"), 256).alias("text_sha256")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_documents": _q_validate_documents,
        "validation_violation_summary": _q_violation_summary,
        "validate_documents_kernel": _q_validate_documents_kernel,
        "validate_documents_object_kw": _q_validate_object_kw,
        "validate_documents_map_kw": _q_validate_map_kw,
        "validate_events_json": _q_validate_events_json,
        "validate_events_conditional": _q_validate_events_conditional,
        "violation_kinds_documents": _q_violation_kinds,
        "violation_messages_documents": _q_violation_messages,
        "column_stats_lineitem": _q_column_stats,
        "length_histogram_documents": _q_length_histogram,
        "duplicate_keys_events": _q_duplicate_keys,
        "uniqueness_orders": _q_uniqueness,
        "referential_orphans_lineitem": _q_ri_orphans,
        "anti_join_customers_without_events": _q_anti_join,
        "psi_events_click_vs_view": _q_psi,
        "ks_orders_totalprice": _q_ks,
        "snapshot_diff_orders": _q_snapshot_diff,
        "snapshot_diff_summary_orders": _q_snapshot_diff_summary,
        "incremental_validate_documents": _q_incremental_validate,
        "incremental_changelog_documents": _q_incremental_changelog,
        "dedup_keep_first_documents": _q_dedup_keep_first,
        "ngram_jaccard_documents": _q_ngram_jaccard,
        "ngram_jaccard_exact_documents": _q_ngram_jaccard_exact,
        "minhash_neardup_documents": _q_minhash_neardup,
        "neardup_clusters_documents": _q_neardup_clusters,
        "dedup_keep_canonical_documents": _q_dedup_keep_canonical,
        "pii_scrub_documents": _q_pii_scrub,
        "sample_split_documents": _q_sample_split,
        "prepare_training_data": _q_prepare_training_data,
        "prepare_training_data_v2": _q_prepare_training_v2,
        "chunk_chars_documents": _q_chunk_chars,
        "chunk_tokens_documents": _q_chunk_tokens,
        "minhash_oph_documents": _q_minhash_oph,
        "simhash_documents": _q_simhash,
        "embedding_neardup_pairs": _q_embedding_neardup,
        "ann_topk_embeddings": _q_ann_topk,
        "ivf_topk_embeddings": _q_ivf_topk,
        "ivf_recall_embeddings": _q_ivf_recall,
        "partition_ledger_documents": _q_partition_ledger,
        "text_stats_documents": _q_text_stats,
        "repetition_stats_documents": _q_repetition,
        "decontaminate_documents": _q_decontaminate,
        "language_id_documents": _q_lang_id,
        "fingerprint_documents": _q_fingerprint,
        "image_features_documents": _q_image_features,
        "audio_features_documents": _q_audio_features,
        "video_features_documents": _q_video_features,
        "agg_pricing_summary": _q_agg_pricing,
    }


def _repetition_oracle_sql(norm: str, src: str = "documents") -> str:
    """DuckDB replica of :func:`operators.repetition.repetition_features`
    + the Gopher keep verdict. Same definitions, different plan: the
    Spark side length-scans a sorted gram array in-row; DuckDB counts
    each distinct gram with nested list lambdas (O(n^2) per doc — the
    oracle small-side). NULL text coalesces to '' (identical outputs:
    the Spark side null-propagates every signal to the same 0.0).
    ``src``: any relation with (doc_id, text) — lets the composed-
    pipeline oracle run the same chain over an intermediate CTE."""
    from json_schema_spark.operators.repetition import GOPHER_THRESHOLDS

    gram_lists = ", ".join(
        f"CASE WHEN len(ws) >= {k} THEN list_transform("
        f"range(1, len(ws)-{k}+2), "
        f"i -> array_to_string(list_slice(ws, i, i+{k}-1), ' ')) "
        f"ELSE [] END AS g{k}"
        for k in range(2, 11))
    top_fracs = ", ".join(
        f"CASE WHEN n_norm > 0 THEN coalesce(list_max(list_transform("
        f"list_distinct(g{k}), g -> len(list_filter(g{k}, x -> x = g)) * "
        f"length(g))), 0) / n_norm ELSE 0.0 END AS top_{k}gram_char_frac"
        for k in (2, 3, 4))
    dup_fracs = ", ".join(
        f"CASE WHEN n_norm > 0 THEN coalesce(list_sum(list_transform("
        f"list_distinct(g{k}), g -> (len(list_filter(g{k}, x -> x = g)) - 1) * "
        f"length(g))), 0) / n_norm ELSE 0.0 END AS dup_{k}gram_char_frac"
        for k in range(5, 11))
    rounded = ", ".join(f"round({name}, 6) AS {name}" for name in GOPHER_THRESHOLDS)
    keep = " AND ".join(f"{name} <= {limit}"
                        for name, limit in GOPHER_THRESHOLDS.items())
    return f"""
        WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM {src}),
        base AS (
          SELECT doc_id,
                 string_split(text, chr(10)) AS ls,
                 length({norm}) AS n_norm,
                 list_filter(string_split({norm}, ' '), w -> length(w) > 0) AS ws
          FROM d),
        lines AS (
          SELECT doc_id, n_norm, ws,
                 len(ls) AS n_lines,
                 len(list_distinct(ls)) AS n_dlines,
                 coalesce(list_sum(list_transform(ls, x -> length(x))), 0) AS lc,
                 coalesce(list_sum(list_transform(list_distinct(ls),
                                                  x -> length(x))), 0) AS dlc
          FROM base),
        grams AS (SELECT doc_id, n_norm, n_lines, n_dlines, lc, dlc, {gram_lists}
                  FROM lines),
        f AS (
          SELECT doc_id,
                 CASE WHEN n_lines > 0 THEN (n_lines - n_dlines) / n_lines
                      ELSE 0.0 END AS dup_line_frac,
                 CASE WHEN lc > 0 THEN (lc - dlc) / lc ELSE 0.0 END
                   AS dup_line_char_frac,
                 {top_fracs},
                 {dup_fracs}
          FROM grams)
        SELECT doc_id, {rounded}, ({keep}) AS gopher_keep FROM f
    """


def _decontaminate_oracle_sql(norm: str) -> str:
    """DuckDB replica of :func:`operators.decontaminate.decontaminate`
    (flag mode) with bench = documents where doc_id % 37 == 0, word
    5-grams over the normalized text (per-doc distinct grams)."""
    return f"""
        WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        w AS (SELECT doc_id,
                     list_filter(string_split({norm}, ' '),
                                 w -> length(w) > 0) AS ws FROM d),
        g AS (SELECT doc_id,
                     CASE WHEN len(ws) >= 5
                          THEN list_distinct(list_transform(
                            range(1, len(ws)-5+2),
                            i -> array_to_string(list_slice(ws, i, i+4), ' ')))
                          ELSE [] END AS gs FROM w),
        bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 37 = 0),
        dg AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        hits AS (SELECT doc_id, count(*)::BIGINT AS c
                 FROM dg JOIN bg USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               (hits.doc_id IS NOT NULL) AS contaminated,
               coalesce(hits.c, 0)::BIGINT AS n_contaminated_grams
        FROM d LEFT JOIN hits ON d.doc_id = hits.doc_id
    """


def _minhash_oph_oracle_sql(norm: str) -> str:
    """DuckDB replica of :func:`operators.dedup.minhash_oph_digest`:
    one sha256 per 5-gram shingle, 60-bit horner value from the first
    15 hex digits (BIGINT-safe — no shifts), per-(id, value%64-bin)
    minimum, digest over the sorted padded-bin:min lines. NULL text
    coalesces to '' on both engines (same as the Spark operator)."""
    horner = "CAST(0 AS BIGINT)"
    for p in range(15):
        horner = (f"(({horner}) * 16 + "
                  f"(strpos('0123456789abcdef', substring(hx, {p + 1}, 1)) - 1))")
    norm = norm.replace("lower(text)", "lower(coalesce(text, ''))")
    return f"""
        WITH t AS (SELECT doc_id AS id, {norm} AS nt FROM documents),
        p AS (SELECT id, nt, unnest(range(1, greatest(length(nt) - 4, 1) + 1)) AS i
              FROM t),
        h AS (SELECT id, substring(sha256(substring(nt, i, 5)), 1, 15) AS hx FROM p),
        v AS (SELECT id, {horner} AS v FROM h),
        m AS (SELECT id, (v % 64)::INT AS bin, min(v) AS mn FROM v GROUP BY 1, 2),
        l AS (SELECT id, lpad(bin::VARCHAR, 2, '0') || ':' || mn::VARCHAR AS line
              FROM m)
        SELECT id, sha256(string_agg(line, ',' ORDER BY line)) AS sig_sha256
        FROM l GROUP BY id
    """


def _minhash_sha_oracle_sql(norm: str) -> str:
    """DuckDB replica of the ENTIRE universal MinHash-LSH pipeline
    (:func:`operators.dedup.minhash_lsh_pairs` with
    ``hash_fn='universal'``): 31-bit shingle hash = Horner code-point
    polynomial (base 31, per-step mod 2^31-1; Spark ``ascii`` and
    DuckDB ``unicode`` agree on every plane, '' → 0 cased explicitly),
    64 universal-mix minima, 16 band keys as comma-joined signature
    slices, distinct candidate pairs from band collisions, exact
    Jaccard over distinct shingle-hash sets."""
    from json_schema_spark.operators.dedup import (
        MERSENNE31, sha_universal_consts)

    p = MERSENNE31
    consts = sha_universal_consts(64, 42)
    horner = "CAST(0 AS BIGINT)"
    for k in range(1, 6):
        cp = (f"(CASE WHEN substring(sh, {k}, 1) = '' THEN 0 "
              f"ELSE unicode(substring(sh, {k}, 1)) END)")
        horner = f"((({horner}) * 31 + {cp}) % {p})"
    mins = ", ".join(f"min((h * {a} + {b}) % {p}) AS m{i}"
                     for i, (a, b) in enumerate(consts))
    case_arms = " ".join(
        f"WHEN {b} THEN " + " || ',' || ".join(
            f"m{b * 4 + j}::VARCHAR" for j in range(4))
        for b in range(16))
    norm = norm.replace("lower(text)", "lower(coalesce(text, ''))")
    return f"""
        WITH t AS (SELECT doc_id AS id, {norm} AS nt FROM documents),
        pos AS (SELECT id, nt, unnest(range(1, greatest(length(nt) - 4, 1) + 1)) AS i
                FROM t),
        shg AS (SELECT id, substring(nt, i, 5) AS sh FROM pos),
        hsh AS (SELECT id, {horner} AS h FROM shg),
        sig AS (SELECT id, {mins} FROM hsh GROUP BY id),
        band AS (SELECT id, b, CASE b {case_arms} END AS key
                 FROM sig, (SELECT unnest(range(16)) AS b)),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id),
        shs AS (SELECT DISTINCT id, h FROM hsh),
        cnt AS (SELECT id, count(*) AS c FROM shs GROUP BY id),
        inter AS (SELECT c.id_a, c.id_b, count(*) AS x
                  FROM cand c
                  JOIN shs sa ON sa.id = c.id_a
                  JOIN shs sb ON sb.id = c.id_b AND sb.h = sa.h
                  GROUP BY 1, 2)
        SELECT i.id_a, i.id_b,
               round(x::DOUBLE / (ca.c + cb.c - x), 6) AS jaccard
        FROM inter i
        JOIN cnt ca ON ca.id = i.id_a
        JOIN cnt cb ON cb.id = i.id_b
        WHERE x::DOUBLE / (ca.c + cb.c - x) >= 0.7
    """


def _components_oracle_sql(norm: str) -> str:
    """Exact transitive closure (recursive CTE) over the sha-universal
    MinHash pair oracle: the ground truth the distributed large-star /
    small-star rounds must reproduce."""
    pairs = _minhash_sha_oracle_sql(norm)
    return f"""
        WITH RECURSIVE
        pairs AS (SELECT id_a, id_b FROM ({pairs}) q),
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
            SELECT s AS id, d AS r FROM edges
            UNION
            SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r
        )
        SELECT id, least(id, min(r)) AS component
        FROM reach GROUP BY id
    """


def _keep_canonical_oracle_sql(norm: str) -> str:
    comp = _components_oracle_sql(norm)
    return f"""
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
            SELECT id FROM ({comp}) c WHERE id <> component
        )
    """


def _pii_oracle_sql() -> str:
    """DuckDB (RE2) replica of the PII scrub: same enrichment text,
    same patterns (written in the Java-RE2 common dialect), same
    ordered redaction chain; counts via regexp_extract_all lengths."""
    from json_schema_spark.operators.pii import PII_PATTERNS

    enrich = """
        SELECT doc_id, concat_ws(' ',
            coalesce(text, ''),
            'user' || doc_id::VARCHAR || '@example.com',
            CASE WHEN doc_id % 3 = 0 THEN
                '+1 555 ' || lpad((doc_id % 10000)::VARCHAR, 7, '0') END,
            CASE WHEN doc_id % 5 = 0 THEN
                '4111 1111 1111 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0') END,
            CASE WHEN doc_id % 7 = 0 THEN
                (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR
                || '.' || ((doc_id * 13) % 256)::VARCHAR
                || '.' || ((doc_id * 29) % 256)::VARCHAR END,
            CASE WHEN doc_id % 11 = 0 THEN
                '078-05-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') END
        ) AS t FROM documents
    """
    stages = ["SELECT doc_id, t AS t0 FROM ({}) e".format(enrich)]
    counts = []
    cur = "t0"
    for i, (kind, pat) in enumerate(PII_PATTERNS.items()):
        esc = pat.replace("'", "''")
        counts.append(
            f"len(regexp_extract_all({cur}, '{esc}'))::BIGINT AS pii_{kind}")
        nxt = f"t{i + 1}"
        stages.append(
            f"SELECT *, regexp_replace({cur}, '{esc}', '[PII:{kind}]', 'g')"
            f" AS {nxt} FROM s{i}")
        cur = nxt
    withs = ",\n        ".join(
        f"s{i} AS ({q})" for i, q in enumerate(stages))
    count_cols = ", ".join(counts)
    total = " + ".join(f"pii_{k}" for k in PII_PATTERNS)
    return f"""
        WITH {withs},
        counted AS (SELECT doc_id, {count_cols}, {cur} AS redacted
                    FROM s{len(stages) - 1})
        SELECT doc_id, * EXCLUDE (doc_id, redacted),
               ({total})::BIGINT AS pii_total,
               sha256(redacted) AS redacted_sha
        FROM counted
    """


def _prepare_training_oracle_sql(norm: str) -> str:
    """DuckDB replica of the full corpus-assembly composition. Float op
    order matches the Spark expressions term by term (int/int division
    is double in both engines; score terms left-associated)."""
    from json_schema_spark.operators.pii import PII_PATTERNS
    from json_schema_spark.operators.text import STOPWORDS

    red = "coalesce(text, '')"
    for kind, pat in PII_PATTERNS.items():
        esc = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '[PII:{kind}]', 'g')"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    horner = "CAST(0 AS BIGINT)"
    for d in range(8):
        horner = (f"(({horner}) * 16 + "
                  f"(strpos('0123456789abcdef', substring(s8, {d + 1}, 1)) - 1))")
    lang = _lang_id_oracle_sql(norm)
    return f"""
        WITH keepers AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256({norm})
        ),
        d AS (
            SELECT doc_id, text, {norm} AS nt FROM documents
            WHERE doc_id IN (SELECT doc_id FROM keepers)
        ),
        feat AS (
            SELECT doc_id, text,
                   length(text) AS n_chars,
                   CASE WHEN length(nt) = 0 THEN 0
                        ELSE len(string_split(nt, ' ')) END AS toks,
                   len(list_filter(string_split(nt, ' '),
                                   w -> w IN ({sw}))) AS sw_hits,
                   length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
            FROM d
        ),
        ratios AS (
            SELECT *,
                   CASE WHEN toks > 0 THEN n_chars / toks ELSE 0.0 END AS mwl,
                   CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS pr,
                   CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0.0 END AS dr,
                   CASE WHEN toks > 0 THEN sw_hits / toks ELSE 0.0 END AS swr
            FROM feat
        ),
        scored AS (
            SELECT doc_id, text, toks,
                   round((least(n_chars / 200.0, 1.0)
                          * (CASE WHEN n_chars > 20000 THEN 0.5 ELSE 1.0 END)) * 0.3
                         + (CASE WHEN mwl >= 3 AND mwl <= 12
                                 THEN 1.0 ELSE 0.4 END) * 0.2
                         + greatest(0.0, 1.0 - 2.0 * pr - dr) * 0.3
                         + least(1.0, 0.3 + 2.0 * swr) * 0.2, 6) AS quality_score
            FROM ratios
        ),
        lang AS ({lang}),
        kept AS (
            SELECT s.doc_id, s.text, l.lang_pred, s.quality_score
            FROM scored s JOIN lang l ON l.doc_id = s.doc_id
            WHERE s.quality_score >= 0.5
              AND l.lang_pred IN ('en', 'de', 'es', 'fr')
              AND s.toks BETWEEN 5 AND 5000
        ),
        split AS (
            SELECT doc_id, lang_pred, quality_score, {red} AS redacted,
                   substring(sha256(doc_id::VARCHAR || ':13'), 1, 8) AS s8
            FROM kept
        )
        SELECT doc_id, lang_pred,
               CASE WHEN ({horner})::DOUBLE / 4294967296.0 < 0.9 THEN 'train'
                    WHEN ({horner})::DOUBLE / 4294967296.0 < 0.95 THEN 'valid'
                    ELSE 'test' END AS split,
               quality_score,
               sha256(redacted) AS redacted_sha
        FROM split
    """


def _prepare_training_v2_oracle_sql(norm: str) -> str:
    """DuckDB replica of the v2 composition: v1's chain with the Gopher
    repetition filter spliced in after dedup (the parameterized
    repetition oracle runs over the deduped CTE) and benchmark 5-gram
    decontamination (remove mode) spliced in after the quality gate."""
    from json_schema_spark.operators.pii import PII_PATTERNS
    from json_schema_spark.operators.text import STOPWORDS

    red = "coalesce(text, '')"
    for kind, pat in PII_PATTERNS.items():
        esc = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '[PII:{kind}]', 'g')"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    horner = "CAST(0 AS BIGINT)"
    for d in range(8):
        horner = (f"(({horner}) * 16 + "
                  f"(strpos('0123456789abcdef', substring(s8, {d + 1}, 1)) - 1))")
    lang = _lang_id_oracle_sql(norm)
    rep = _repetition_oracle_sql(norm, src="d0")
    return f"""
        WITH keepers AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256({norm})
        ),
        d0 AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id IN (SELECT doc_id FROM keepers)
        ),
        rep AS ({rep}),
        d AS (
            SELECT doc_id, text, {norm} AS nt FROM d0
            WHERE doc_id IN (SELECT doc_id FROM rep WHERE gopher_keep)
        ),
        feat AS (
            SELECT doc_id, text,
                   length(text) AS n_chars,
                   CASE WHEN length(nt) = 0 THEN 0
                        ELSE len(string_split(nt, ' ')) END AS toks,
                   len(list_filter(string_split(nt, ' '),
                                   w -> w IN ({sw}))) AS sw_hits,
                   length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
            FROM d
        ),
        ratios AS (
            SELECT *,
                   CASE WHEN toks > 0 THEN n_chars / toks ELSE 0.0 END AS mwl,
                   CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS pr,
                   CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0.0 END AS dr,
                   CASE WHEN toks > 0 THEN sw_hits / toks ELSE 0.0 END AS swr
            FROM feat
        ),
        scored AS (
            SELECT doc_id, text, toks,
                   round((least(n_chars / 200.0, 1.0)
                          * (CASE WHEN n_chars > 20000 THEN 0.5 ELSE 1.0 END)) * 0.3
                         + (CASE WHEN mwl >= 3 AND mwl <= 12
                                 THEN 1.0 ELSE 0.4 END) * 0.2
                         + greatest(0.0, 1.0 - 2.0 * pr - dr) * 0.3
                         + least(1.0, 0.3 + 2.0 * swr) * 0.2, 6) AS quality_score
            FROM ratios
        ),
        lang AS ({lang}),
        kept AS (
            SELECT s.doc_id, s.text, l.lang_pred, s.quality_score
            FROM scored s JOIN lang l ON l.doc_id = s.doc_id
            WHERE s.quality_score >= 0.5
              AND l.lang_pred IN ('en', 'de', 'es', 'fr')
              AND s.toks BETWEEN 5 AND 5000
        ),
        gw AS (SELECT doc_id,
                      list_filter(string_split({norm}, ' '),
                                  w -> length(w) > 0) AS ws
               FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        gg AS (SELECT doc_id,
                      CASE WHEN len(ws) >= 5
                           THEN list_distinct(list_transform(
                             range(1, len(ws)-5+2),
                             i -> array_to_string(list_slice(ws, i, i+4), ' ')))
                           ELSE [] END AS gs FROM gw),
        bg AS (SELECT DISTINCT unnest(gs) AS gram FROM gg WHERE doc_id % 37 = 0),
        hits AS (SELECT DISTINCT g.doc_id
                 FROM (SELECT doc_id, unnest(gs) AS gram FROM gg) g
                 JOIN bg USING (gram)),
        clean AS (
            SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        ),
        split AS (
            SELECT doc_id, lang_pred, quality_score, {red} AS redacted,
                   substring(sha256(doc_id::VARCHAR || ':13'), 1, 8) AS s8
            FROM clean
        )
        SELECT doc_id, lang_pred,
               CASE WHEN ({horner})::DOUBLE / 4294967296.0 < 0.9 THEN 'train'
                    WHEN ({horner})::DOUBLE / 4294967296.0 < 0.95 THEN 'valid'
                    ELSE 'test' END AS split,
               quality_score,
               sha256(redacted) AS redacted_sha
        FROM split
    """


def _sample_split_oracle_sql() -> str:
    """DuckDB replica of the sampling query: same sha256-derived unit
    position (first 8 hex digits / 16^8), same stratum thresholds and
    split boundaries."""
    horner = "CAST(0 AS BIGINT)"
    for d in range(8):
        horner = (f"(({horner}) * 16 + "
                  f"(strpos('0123456789abcdef', substring(h8, {d + 1}, 1)) - 1))")
    return f"""
        WITH p AS (
            SELECT doc_id, lang,
                   substring(sha256(doc_id::VARCHAR || ':7'), 1, 8) AS h8,
                   substring(sha256(doc_id::VARCHAR || ':11'), 1, 8) AS s8
            FROM documents),
        pos AS (
            SELECT doc_id, lang,
                   ({horner})::DOUBLE / 4294967296.0 AS keep_pos,
                   ({horner.replace('h8', 's8')})::DOUBLE / 4294967296.0 AS split_pos
            FROM p),
        kept AS (
            SELECT * FROM pos
            WHERE keep_pos < CASE lang
                WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.5
                WHEN 'es' THEN 0.5 WHEN 'zh' THEN 0.2 ELSE 0.0 END)
        SELECT doc_id, lang,
               CASE WHEN split_pos < 0.8 THEN 'train'
                    WHEN split_pos < 0.9 THEN 'valid'
                    ELSE 'test' END AS split
        FROM kept
    """


def _chunk_oracle_sql(size: int, stride: int, by: str) -> str:
    """DuckDB replica of operators/chunking.py: same window-count
    formula, same offsets, code-point substring / single-space token
    slices."""
    if by == "chars":
        units = "length(txt)"
        chunk = f"substring(txt, i * {stride} + 1, {size})"
    else:
        units = "len(string_split(txt, ' '))"
        chunk = (f"array_to_string(list_slice(string_split(txt, ' '), "
                 f"i * {stride} + 1, i * {stride} + {size}), ' ')")
    return f"""
        WITH t AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
        n AS (SELECT doc_id, txt,
                     CASE WHEN {units} <= {size} THEN 1
                          ELSE cast(ceil(({units} - {size})::DOUBLE / {stride}) AS BIGINT) + 1
                     END AS k
              FROM t),
        c AS (SELECT doc_id, txt, unnest(range(k)) AS i FROM n)
        SELECT doc_id, i AS chunk_id, i * {stride} AS chunk_start,
               sha256({chunk}) AS chunk_sha
        FROM c
    """


def _simhash_oracle_sql(norm: str) -> str:
    """DuckDB replica of :func:`json_schema_spark.operators.dedup.simhash`:
    same sha256-derived 64-bit token hash, same ±1 bit votes, same
    digit/shift bit mapping. Bit 63 is OR'd in as min-bigint (DuckDB
    errors on ``1 << 63``)."""
    digit_cols = ", ".join(
        f"(strpos('0123456789abcdef', substring(h, {p + 1}, 1)) - 1)::BIGINT AS d{p}"
        for p in range(16)
    )
    vote_cols = ", ".join(
        f"sum(((d{b // 4} >> {b % 4}) & 1) * 2 - 1) AS v{b}" for b in range(64)
    )
    sig = " | ".join(
        ["CASE WHEN v63 > 0 THEN (CAST(-9223372036854775807 AS BIGINT) - 1) ELSE 0 END"]
        + [f"CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END"
           for b in range(63)]
    )
    return f"""
        WITH t AS (SELECT doc_id AS id, {norm} AS nt FROM documents),
        tok AS (SELECT id, unnest(string_split(nt, ' ')) AS tok FROM t),
        h AS (SELECT id, substring(sha256(tok), 1, 16) AS h FROM tok),
        d AS (SELECT id, {digit_cols} FROM h),
        v AS (SELECT id, {vote_cols} FROM d GROUP BY id)
        SELECT id, ({sig})::BIGINT AS simhash FROM v
    """


def _embedding_neardup_oracle_sql(bands: int = 8, planes: int = 12, seed: int = 42,
                                  dim: int = 64, threshold: float = 0.25) -> str:
    """DuckDB replica of BANDED hyperplane-LSH embedding near-dup
    (operators.dedup.embedding_neardup_pairs): the same sha256-derived
    plane constants (plane index = band*planes + i) as a weights VALUES
    table, per-(id, plane) dot = exact DECIMAL(27,12) sum of the double
    products (order-independent, hence bit-identical to Spark's hash
    aggregate — the IVF-centroid trick), per-band bucket = ordered
    sign-bit string, candidate = collision in ANY band (DISTINCT pairs
    over the band union), exact cosine verify (sequential double fold on
    both engines)."""
    rows = []
    for p in range(bands * planes):
        w = D.hyperplane(seed, p, dim)
        rows.extend(f"({p}, {j + 1}, {w[j]!r})" for j in range(dim))
    cos = ("list_dot_product(va, vb) / (sqrt(list_dot_product(va, va))"
           " * sqrt(list_dot_product(vb, vb)))")
    return f"""
        WITH w(p, j, wv) AS (VALUES {", ".join(rows)}),
        c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS cv FROM embeddings),
        posting AS (SELECT id, generate_subscripts(cv, 1) AS j, unnest(cv) AS x
                    FROM c),
        d AS (SELECT id, p, sum(CAST(x * wv AS DECIMAL(27,12))) AS dp
              FROM posting JOIN w USING (j) GROUP BY id, p),
        b AS (SELECT id, (p // {planes}) AS band,
                     string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END,
                                '' ORDER BY p) AS bucket
              FROM d GROUP BY id, (p // {planes})),
        cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
                 FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
                                    AND a.id < b2.id),
        v AS (SELECT id_a, id_b, ca.cv AS va, cb.cv AS vb
              FROM cand JOIN c ca ON ca.id = cand.id_a
                        JOIN c cb ON cb.id = cand.id_b)
        SELECT id_a, id_b, round({cos}, 6) AS cosine
        FROM v WHERE {cos} >= {threshold}
    """


def _ivf_ctes(n_cent: int = 8, iters: int = 2) -> tuple[str, str, str]:
    """Shared DuckDB CTE chain replicating ``build_ivf`` exactly:
    mod-seeded assignment, per-dimension exact DECIMAL(27,12) sums as
    centroids (scale-free under cosine), ``iters`` argmax reassignment
    rounds with (sim DESC, cid ASC) tie-break. Returns (cte_sql,
    final_assignment_name, final_centroids_name)."""
    parts = [
        "c AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS cv FROM embeddings)",
        "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv"
        " FROM embeddings WHERE vec_id < 10)",
        f"a0 AS (SELECT item_id, cv, (item_id % {n_cent})::INT AS cid FROM c)",
    ]
    for i in range(iters):
        parts.append(
            f"e{i} AS (SELECT cid, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x"
            f" FROM a{i})"
        )
        parts.append(
            f"c{i + 1} AS (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY pos) AS cent FROM ("
            f"SELECT cid, pos, sum(CAST(x AS DECIMAL(27,12))) AS s FROM e{i}"
            f" GROUP BY cid, pos) GROUP BY cid)"
        )
        parts.append(
            f"s{i + 1} AS (SELECT item_id, cv, t.cid AS cid,"
            f" list_dot_product(cv, cent) / sqrt(list_dot_product(cent, cent)) AS sim"
            f" FROM c CROSS JOIN c{i + 1} t WHERE list_dot_product(cent, cent) > 0)"
        )
        parts.append(
            f"a{i + 1} AS (SELECT item_id, cv, cid FROM ("
            f"SELECT item_id, cv, cid, row_number() OVER ("
            f"PARTITION BY item_id ORDER BY sim DESC, cid ASC) AS rn FROM s{i + 1})"
            f" WHERE rn = 1)"
        )
    return ",\n        ".join(parts), f"a{iters}", f"c{iters}"


def _ivf_topk_ctes(n_cent: int = 8, iters: int = 2, k: int = 5, n_probe: int = 4) -> str:
    ctes, a_fin, c_fin = _ivf_ctes(n_cent, iters)
    cos_probe = (
        "list_dot_product(qv, cent) / (sqrt(list_dot_product(qv, qv))"
        " * sqrt(list_dot_product(cent, cent)))"
    )
    cos_item = (
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv))"
        " * sqrt(list_dot_product(cv, cv)))"
    )
    return f"""{ctes},
        pq AS (SELECT query_id, qv, cid FROM (
            SELECT query_id, qv, cid, row_number() OVER (
                PARTITION BY query_id ORDER BY csim DESC, cid ASC) AS rn
            FROM (SELECT query_id, qv, t.cid AS cid, {cos_probe} AS csim
                  FROM q CROSS JOIN {c_fin} t)) WHERE rn <= {n_probe}),
        sc AS (SELECT query_id, item_id, {cos_item} AS cos
               FROM pq JOIN {a_fin} USING (cid)),
        r AS (SELECT query_id, item_id, cos, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, item_id ASC) AS rnk FROM sc)"""


def _ivf_topk_oracle_sql() -> str:
    return f"""
        WITH {_ivf_topk_ctes()}
        SELECT query_id, item_id, rnk::int AS rank, round(cos, 6) AS cosine
        FROM r WHERE rnk <= 5
    """


def _ivf_recall_oracle_sql() -> str:
    return f"""
        WITH {_ivf_topk_ctes()},
        ivf AS (SELECT query_id, item_id FROM r WHERE rnk <= 5),
        bfs AS (SELECT query_id, item_id,
                       list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv))
                       * sqrt(list_dot_product(cv, cv))) AS cos
                FROM q CROSS JOIN c),
        bf AS (SELECT query_id, item_id FROM (
            SELECT query_id, item_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, item_id ASC) AS rnk FROM bfs)
            WHERE rnk <= 5)
        SELECT count(*) / 50 AS recall FROM ivf JOIN bf USING (query_id, item_id)
    """


def _lang_id_oracle_sql(norm: str) -> str:
    """DuckDB replica of :func:`operators.text.lang_id`: per-language
    stopword hit rate (CJK by character containment / 3.0), argmax with
    the same (score DESC, lang DESC) tie-break the Spark sorted-struct
    uses. All scores are single int/int divisions — bit-stable."""
    parts = []
    for lang, sws in T.STOPWORDS.items():
        if lang == "zh":
            hits = " + ".join(
                f"(CASE WHEN contains(text, '{ch}') THEN 1 ELSE 0 END)" for ch in sws
            )
            parts.append(
                f"SELECT doc_id, 'zh' AS lang, "
                f"CAST(({hits}) AS DOUBLE) / CAST(3.0 AS DOUBLE) AS score FROM documents"
            )
        else:
            lst = ", ".join(f"'{w}'" for w in sws)
            parts.append(
                f"SELECT doc_id, '{lang}' AS lang, "
                f"len(list_filter(string_split({norm}, ' '), w -> w IN ({lst}))) "
                f"/ greatest(len(string_split({norm}, ' ')), 1) AS score FROM documents"
            )
    per = " UNION ALL ".join(parts)
    return f"""
        WITH per AS ({per}), r AS (
          SELECT doc_id, lang, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
          FROM per)
        SELECT doc_id,
               CASE WHEN score > 0 THEN lang ELSE 'unknown' END AS lang_pred,
               round(score, 6) AS lang_pred_score
        FROM r WHERE rn = 1
    """


def _ledger_oracle_sql() -> str:
    """DuckDB replica of the keyed partition ledger over the documents
    validation: per doc_id%8 bucket — row/valid/violation counts and the
    sha256 of the sorted ``doc_id|path|keyword`` violation lines."""
    rules = [
        ("text IS NOT NULL AND length(text) < 60", "/text", "minLength"),
        ("lang IS NOT NULL AND lang NOT IN ('en','de','es','fr')", "/lang", "enum"),
        ("n_chars IS NOT NULL AND n_chars > 400", "/n_chars", "maximum"),
        ("source IS NOT NULL AND NOT regexp_matches(source, '^src1?[0-9]$')",
         "/source", "pattern"),
        ("doc_id IS NOT NULL AND doc_id < 0", "/doc_id", "minimum"),
    ]
    viols = " UNION ALL ".join(
        f"SELECT doc_id % 8 AS partition_id, "
        f"doc_id::VARCHAR || '|{path}|{kw}' AS line FROM documents WHERE {cond}"
        for cond, path, kw in rules
    )
    return f"""
        WITH base AS (
          SELECT doc_id % 8 AS partition_id, {DOCS_VALID_SQL} AS valid FROM documents
        ), cnt AS (
          SELECT partition_id, count(*)::bigint AS rows_scanned,
                 sum(valid::int)::bigint AS valid_rows,
                 sum((NOT valid)::int)::bigint AS violation_rows
          FROM base GROUP BY 1
        ), lines AS ({viols}), vagg AS (
          SELECT partition_id, count(*)::bigint AS violations,
                 sha256(string_agg(line, chr(10) ORDER BY line)) AS violations_sha256
          FROM lines GROUP BY 1
        )
        SELECT cnt.partition_id::int AS partition_id, rows_scanned, valid_rows,
               violation_rows,
               coalesce(violations, 0)::bigint AS violations,
               coalesce(violations_sha256, sha256('')) AS violations_sha256
        FROM cnt LEFT JOIN vagg USING (partition_id)
    """


# DuckDB replica of the _orders_new_snapshot synthesis + the status
# classification of operators/reconcile.py:snapshot_diff. The oracle
# compares columns directly (IS NOT DISTINCT FROM) where the Spark
# rows-mode query classifies via its slim xxhash64 digest — identical
# statuses prove the digest/canonicalization faithful. Key join is
# plain '=' (orders keys are non-null; Spark's eqNullSafe coincides).
_SNAPSHOT_DIFF_CTE = """
    WITH n AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 53 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    ),
    j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                   AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                  THEN 'unchanged' ELSE 'changed' END AS status
      FROM orders o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
"""


def oracle_sql() -> dict[str, str]:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    stats_parts = " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", count(*)::bigint AS row_count, "
        f"(count(*) - count({c}))::bigint AS null_count, "
        f"(count(*) - count({c})) / count(*) AS null_rate, "
        f"count(DISTINCT {c})::bigint AS distinct_count FROM lineitem"
        for c in _LINEITEM_COLS
    )
    sw_list = ", ".join(f"'{w}'" for w in _EN_SW)
    return {
        "validate_documents": f"SELECT doc_id, {DOCS_VALID_SQL} AS valid FROM documents",
        "validation_violation_summary": f"""
            SELECT * FROM (
              SELECT 'minLength' AS keyword, '/text' AS json_path, count(*)::bigint AS viol_count
                FROM documents WHERE text IS NOT NULL AND length(text) < 60
              UNION ALL
              SELECT 'enum', '/lang', count(*)::bigint FROM documents
                WHERE lang IS NOT NULL AND lang NOT IN ('en','de','es','fr')
              UNION ALL
              SELECT 'maximum', '/n_chars', count(*)::bigint FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 400
              UNION ALL
              SELECT 'pattern', '/source', count(*)::bigint FROM documents
                WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src1?[0-9]$')
              UNION ALL
              SELECT 'minimum', '/doc_id', count(*)::bigint FROM documents
                WHERE doc_id IS NOT NULL AND doc_id < 0
            ) WHERE viol_count > 0
        """,
        "validate_documents_kernel": f"SELECT doc_id, {DOCS_VALID_SQL} AS valid FROM documents",
        # typed-row object keywords: presence-count minProperties (4 of
        # 5 columns non-null), patternProperties ^n_ -> n_chars integer
        # >= 80; propertyNames/additionalProperties/maxProperties are
        # statically satisfied by the column names/types
        "validate_documents_object_kw": """
            SELECT doc_id,
                   (((doc_id IS NOT NULL)::int + (text IS NOT NULL)::int
                     + (lang IS NOT NULL)::int + (source IS NOT NULL)::int
                     + (n_chars IS NOT NULL)::int) >= 4
                    AND (n_chars IS NULL OR n_chars >= 80)) AS valid
            FROM documents
        """,
        # map-column object keywords over create_map(lang, source):
        # minProperties 2 = both values present; ^l patternProperties ->
        # lang enum; additionalProperties -> source pattern
        "validate_documents_map_kw": """
            SELECT doc_id,
                   (((lang IS NOT NULL)::int + (source IS NOT NULL)::int) >= 2
                    AND (lang IS NULL OR lang IN ('en','de','es','fr'))
                    AND (source IS NULL OR regexp_matches(source, '^src1?[0-9]$'))) AS valid
            FROM documents
        """,
        # Total oracles: NULL props → NULL verdict, unparseable → false,
        # missing / non-numeric / non-integer k → false (matches the
        # Spark required+type+bounds semantics; a bare BETWEEN yields
        # NULL, not false, when k is absent).
        "validate_events_json": """
            SELECT event_id,
                   CASE WHEN props IS NULL THEN NULL
                        WHEN try_cast(props AS JSON) IS NULL THEN FALSE
                        ELSE coalesce(
                          json_type(try_cast(props AS JSON)) = 'OBJECT'
                          AND json_type(try_cast(props AS JSON), '$.k')
                              IN ('BIGINT','UBIGINT','DOUBLE')
                          AND try_cast(try_cast(props AS JSON)->>'k' AS DOUBLE)
                              = floor(try_cast(try_cast(props AS JSON)->>'k' AS DOUBLE))
                          AND try_cast(try_cast(props AS JSON)->>'k' AS DOUBLE)
                              BETWEEN 0 AND 50, FALSE)
                   END AS valid
            FROM events
        """,
        "validate_events_conditional": """
            WITH e AS (
              SELECT event_id, props, try_cast(props AS JSON) AS j,
                     try_cast(try_cast(props AS JSON)->>'k' AS DOUBLE) AS d
              FROM events
            )
            SELECT event_id,
                   CASE WHEN props IS NULL THEN NULL
                        WHEN j IS NULL THEN FALSE
                        ELSE coalesce(
                          json_type(j) = 'OBJECT'
                          AND json_type(j, '$.k') IN ('BIGINT','UBIGINT','DOUBLE')
                          AND d = floor(d)
                          AND CASE WHEN d >= 50 THEN d % 2 = 0 ELSE d % 3 = 0 END, FALSE)
                   END AS valid
            FROM e
        """,
        "violation_kinds_documents": """
            SELECT * FROM (
              SELECT 'MIN_LENGTH' AS error_kind, count(*)::bigint AS cnt
                FROM documents WHERE text IS NOT NULL AND length(text) < 60
              UNION ALL
              SELECT 'ENUM', count(*)::bigint FROM documents
                WHERE lang IS NOT NULL AND lang NOT IN ('en','de','es','fr')
              UNION ALL
              SELECT 'MAXIMUM', count(*)::bigint FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 400
              UNION ALL
              SELECT 'PATTERN', count(*)::bigint FROM documents
                WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src1?[0-9]$')
              UNION ALL
              SELECT 'MINIMUM', count(*)::bigint FROM documents
                WHERE doc_id IS NOT NULL AND doc_id < 0
            ) WHERE cnt > 0
        """,
        # reference-identical message strings re-rendered in SQL
        # (results/EErrorType.java templates; MIN_LENGTH keeps the
        # reference's double space and dangling {2}; required joins
        # missing names in Java HashSet iteration order)
        "violation_messages_documents": r"""
            WITH base AS (SELECT * FROM documents)
            SELECT doc_id, '' AS json_path, 'required' AS keyword,
                   'Some required properties ' || concat_ws(',',
                     CASE WHEN n_chars IS NULL THEN 'n_chars' END,
                     CASE WHEN text IS NULL THEN 'text' END,
                     CASE WHEN source IS NULL THEN 'source' END,
                     CASE WHEN lang IS NULL THEN 'lang' END,
                     CASE WHEN doc_id IS NULL THEN 'doc_id' END)
                   || ' are missing' AS message
              FROM base
             WHERE doc_id IS NULL OR text IS NULL OR lang IS NULL
                OR source IS NULL OR n_chars IS NULL
            UNION ALL
            SELECT doc_id, '/doc_id', 'minimum',
                   'Value ' || doc_id || ' less than 0'
              FROM base WHERE doc_id < 0
            UNION ALL
            SELECT doc_id, '/text', 'minLength',
                   'The length of 60 must be greater or equal than  '
                   || length(text) || '. Actual: {2}'
              FROM base WHERE text IS NOT NULL AND length(text) < 60
            UNION ALL
            SELECT doc_id, '/lang', 'enum',
                   'The value "' || replace(replace(lang, '\', '\\'), '"', '\"')
                   || '" not declared in enum ["en","de","es","fr"]'
              FROM base
             WHERE lang IS NOT NULL AND lang NOT IN ('en','de','es','fr')
            UNION ALL
            SELECT doc_id, '/source', 'pattern',
                   'The value ' || source
                   || ' not conform to pattern: ^src1?[0-9]$'
              FROM base
             WHERE source IS NOT NULL
               AND NOT regexp_matches(source, '^src1?[0-9]$')
            UNION ALL
            SELECT doc_id, '/n_chars', 'maximum',
                   'Value ' || n_chars || ' greater than 400'
              FROM base WHERE n_chars IS NOT NULL AND n_chars > 400
        """,
        "column_stats_lineitem": stats_parts,
        "length_histogram_documents": """
            SELECT floor(length(text) / 64.0)::bigint AS bucket,
                   floor(length(text) / 64.0)::bigint * 64 AS lo,
                   (floor(length(text) / 64.0)::bigint + 1) * 64 AS hi,
                   count(*)::bigint AS cnt
            FROM documents WHERE text IS NOT NULL
            GROUP BY 1, 2, 3
        """,
        "duplicate_keys_events": """
            SELECT user_id, event_type, count(*)::bigint AS dup_count
            FROM events GROUP BY 1, 2 HAVING count(*) > 1
        """,
        "uniqueness_orders": """
            SELECT (SELECT count(*) FROM orders)::bigint AS row_count,
                   (SELECT count(DISTINCT o_orderkey) FROM orders)::bigint AS distinct_keys,
                   (SELECT count(*) FROM (
                      SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1))::bigint
                     AS duplicate_keys,
                   (SELECT coalesce(sum(c), 0) FROM (
                      SELECT count(*) AS c FROM orders GROUP BY o_orderkey
                      HAVING count(*) > 1))::bigint AS duplicated_rows
        """,
        "referential_orphans_lineitem": """
            SELECT l_orderkey AS okey, count(*)::bigint AS orphan_rows
            FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
            GROUP BY 1
        """,
        "anti_join_customers_without_events": """
            SELECT c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        """,
        "psi_events_click_vs_view": """
            WITH ch AS (
              SELECT CASE WHEN value < 0 THEN 0 WHEN value >= 500 THEN 21
                          ELSE (floor((value - 0) / 25.0) + 1)::int END AS bucket,
                     count(*)::bigint AS cnt
              FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
            ), bh AS (
              SELECT CASE WHEN value < 0 THEN 0 WHEN value >= 500 THEN 21
                          ELSE (floor((value - 0) / 25.0) + 1)::int END AS bucket,
                     count(*)::bigint AS cnt
              FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1
            ), cp AS (SELECT bucket, cnt / (SELECT sum(cnt) FROM ch) AS p FROM ch),
               bq AS (SELECT bucket, cnt / (SELECT sum(cnt) FROM bh) AS q FROM bh),
               j AS (SELECT coalesce(p, 0) + 1e-6 AS p, coalesce(q, 0) + 1e-6 AS q
                     FROM cp FULL OUTER JOIN bq USING (bucket))
            SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM j
        """,
        "ks_orders_totalprice": """
            WITH ch AS (
              SELECT CASE WHEN o_totalprice < 0 THEN 0 WHEN o_totalprice >= 600000 THEN 101
                          ELSE (floor(o_totalprice / 6000.0) + 1)::int END AS bucket,
                     count(*)::bigint AS c_cur
              FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL GROUP BY 1
            ), bh AS (
              SELECT CASE WHEN o_totalprice < 0 THEN 0 WHEN o_totalprice >= 600000 THEN 101
                          ELSE (floor(o_totalprice / 6000.0) + 1)::int END AS bucket,
                     count(*)::bigint AS c_base
              FROM orders WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL GROUP BY 1
            ), j AS (
              SELECT bucket, coalesce(c_cur, 0) AS c_cur, coalesce(c_base, 0) AS c_base
              FROM ch FULL OUTER JOIN bh USING (bucket)
            ), cdf AS (
              SELECT sum(c_cur) OVER (ORDER BY bucket) AS cum_cur,
                     sum(c_base) OVER (ORDER BY bucket) AS cum_base FROM j
            )
            SELECT round(max(abs(cum_cur / (SELECT sum(c_cur) FROM j)
                               - cum_base / (SELECT sum(c_base) FROM j))), 6) AS ks
            FROM cdf
        """,
        "snapshot_diff_orders": _SNAPSHOT_DIFF_CTE + """
            SELECT o_orderkey, status FROM j WHERE status <> 'unchanged'
        """,
        "snapshot_diff_summary_orders": _SNAPSHOT_DIFF_CTE + """
            SELECT status, count(*)::bigint AS rows FROM j GROUP BY status
        """,
        # Full validation of the new snapshot + independent delta
        # classification — the incremental path must reproduce both.
        "incremental_validate_documents": f"""
            WITH nn AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 37 = 0 THEN text || ' rev2'
                          ELSE text END AS text,
                     lang, source,
                     CASE WHEN doc_id % 97 = 0 THEN n_chars + 500
                          ELSE n_chars END AS n_chars
              FROM documents WHERE doc_id % 53 <> 0
              UNION ALL
              SELECT doc_id + 1000000000, text, lang, source, n_chars
              FROM documents WHERE doc_id % 101 = 0
            ),
            vv AS (
              SELECT doc_id, {DOCS_VALID_SQL} AS valid,
                     text, lang, source, n_chars
              FROM nn
            )
            SELECT v.doc_id, v.valid,
                   (o.doc_id IS NULL
                    OR o.text IS DISTINCT FROM v.text
                    OR o.lang IS DISTINCT FROM v.lang
                    OR o.source IS DISTINCT FROM v.source
                    OR o.n_chars IS DISTINCT FROM v.n_chars) AS revalidated
            FROM vv v LEFT JOIN documents o ON v.doc_id = o.doc_id
        """,
        # Same full validation of the new snapshot; revalidated mirrors
        # the (over-approximating) changelog classification instead of
        # the content diff.
        "incremental_changelog_documents": f"""
            WITH nn AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 37 = 0 THEN text || ' rev2'
                          ELSE text END AS text,
                     lang, source,
                     CASE WHEN doc_id % 97 = 0 THEN n_chars + 500
                          ELSE n_chars END AS n_chars
              FROM documents WHERE doc_id % 53 <> 0
              UNION ALL
              SELECT doc_id + 1000000000, text, lang, source, n_chars
              FROM documents WHERE doc_id % 101 = 0
            )
            SELECT doc_id, {DOCS_VALID_SQL} AS valid,
                   (doc_id >= 1000000000 OR doc_id % 37 = 0
                    OR doc_id % 97 = 0) AS revalidated
            FROM nn
        """,
        "dedup_keep_first_documents": f"""
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY sha256({norm})
        """,
        **{k: f"""
            WITH d AS (
              SELECT doc_id, string_split({norm}, ' ') AS words FROM documents
            ), g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(words) - 2, 1) + 1),
                       i -> array_to_string(words[i:i+2], ' '))) AS sh
              FROM d
            ), p AS (SELECT doc_id AS id, unnest(sh) AS gr, len(sh) AS n FROM g),
               co AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb,
                     count(*)::bigint AS inter
              FROM p a JOIN p b ON a.gr = b.gr AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, round(inter / (na + nb - inter), 6) AS jaccard
            FROM co WHERE inter / (na + nb - inter) >= 0.7
        """ for k in ("ngram_jaccard_documents",
                      "ngram_jaccard_exact_documents")},
        "ann_topk_embeddings": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 10),
                 c AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS cv FROM embeddings),
                 s AS (SELECT query_id, item_id,
                              list_dot_product(qv, cv)
                              / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                                AS cos
                       FROM q CROSS JOIN c),
                 r AS (SELECT query_id, item_id, cos,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY cos DESC, item_id ASC) AS rnk
                       FROM s)
            SELECT query_id, item_id, rnk::int AS rank, round(cos, 6) AS cosine
            FROM r WHERE rnk <= 5
        """,
        "text_stats_documents": f"""
            WITH d AS (
              SELECT doc_id, text, {norm} AS nt FROM documents
            ), tok AS (
              SELECT doc_id, text, nt,
                     CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS toks,
                     string_split(nt, ' ') AS words
              FROM d
            )
            SELECT doc_id,
                   length(text)::bigint AS n_chars,
                   toks::bigint AS n_tokens,
                   coalesce(list_sum(list_transform(
                     regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]'),
                     t -> CASE WHEN regexp_matches(t, '^[A-Za-z]+$')
                               THEN ceil(length(t) / 4.0)::int ELSE 1 END)), 0)::bigint
                     AS bpe_tokens,
                   round(CASE WHEN toks > 0 THEN length(text) / toks ELSE 0.0 END, 6)
                     AS mean_word_len,
                   round(CASE WHEN length(text) > 0
                              THEN length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text)
                              ELSE 0.0 END, 6) AS digit_ratio,
                   round(CASE WHEN length(text) > 0
                              THEN length(regexp_replace(text, '[^A-Z]', '', 'g')) / length(text)
                              ELSE 0.0 END, 6) AS upper_ratio,
                   round(CASE WHEN toks > 0
                              THEN len(list_filter(words, w -> w IN ({sw_list}))) / toks
                              ELSE 0.0 END, 6) AS stopword_ratio
            FROM tok
        """,
        "repetition_stats_documents": _repetition_oracle_sql(norm),
        "decontaminate_documents": _decontaminate_oracle_sql(norm),
        "fingerprint_documents": f"SELECT doc_id, sha256({norm}) AS fp_sha256 FROM documents",
        "language_id_documents": _lang_id_oracle_sql(norm),
        "minhash_oph_documents": _minhash_oph_oracle_sql(norm),
        "minhash_neardup_documents": _minhash_sha_oracle_sql(norm),
        "neardup_clusters_documents": _components_oracle_sql(norm),
        "dedup_keep_canonical_documents": _keep_canonical_oracle_sql(norm),
        "pii_scrub_documents": _pii_oracle_sql(),
        "sample_split_documents": _sample_split_oracle_sql(),
        "prepare_training_data": _prepare_training_oracle_sql(norm),
        "prepare_training_data_v2": _prepare_training_v2_oracle_sql(norm),
        "chunk_chars_documents": _chunk_oracle_sql(200, 150, "chars"),
        "chunk_tokens_documents": _chunk_oracle_sql(32, 24, "tokens"),
        "simhash_documents": _simhash_oracle_sql(norm),
        "embedding_neardup_pairs": _embedding_neardup_oracle_sql(),
        "ivf_topk_embeddings": _ivf_topk_oracle_sql(),
        "ivf_recall_embeddings": _ivf_recall_oracle_sql(),
        "partition_ledger_documents": _ledger_oracle_sql(),
        "image_features_documents": _image_features_oracle_sql(),
        "audio_features_documents": _audio_features_oracle_sql(),
        "video_features_documents": _video_features_oracle_sql(),
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round((sum(l_quantity::DECIMAL(18,2)))::double, 2) AS sum_qty,
                   round((sum(l_extendedprice::DECIMAL(18,2)))::double, 2) AS sum_base_price,
                   round((sum(l_extendedprice::DECIMAL(18,2)
                              * (1 - l_discount::DECIMAL(18,2))))::double, 2) AS sum_disc_price,
                   count(*)::bigint AS count_order,
                   round(round((sum(l_quantity::DECIMAL(18,2)))::double, 2) / count(*), 6)
                     AS avg_qty
            FROM lineitem GROUP BY 1, 2
        """,
    }
