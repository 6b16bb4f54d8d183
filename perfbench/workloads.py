"""The four benchmark workloads.

Each workload generates its inputs from the seed (outside any timed
region), computes the known answer once, and then runs *reps*: one rep
is the user-visible job, ending in an action whose result is checked
against the known answer. Every rep gets a plan no earlier rep ran (a
rep-numbered literal column, a rep-numbered output path or a rep-seeded
hash), so a rep cannot be served from an earlier rep's persisted data.

A rep returns ``(output, frames, ops)``: ``frames`` are the DataFrames
its actions ran on (for plan inspection), ``ops`` the time spent in each
named operator call (per-layer numbers). A validating workload builds
its plan, then runs it: ``ops["action_s"]`` is the run alone, the part
that scales with rows, and ``compiler.build_ms`` the driver-side build.
"""

from __future__ import annotations

import json
import random
import statistics
import time

import jsonschema
from pyspark.sql import functions as F

from json_schema_spark.core.validator import compile_schema
from json_schema_spark.flagship import flagship_validator, validate_source_table
from json_schema_spark.operators import checks, drift
from json_schema_spark.operators.dedup import (hot_bucket_stats, minhash_lsh_pairs,
                                               minhash_signatures)
from json_schema_spark.operators.ledger import partition_ledger
from json_schema_spark.operators.repetition import repetition_features
from json_schema_spark.plans.runner import SparkValidator
from json_schema_spark.sources import synth

__all__ = ["WORKLOADS"]

# Planted defects of sources.synth.source_code_table (see its docstring).
_INVALID_MODS = (997, 1009, 499, 503, 991)
_DUP_MOD = 1013


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tag(df, rep: int):
    """A rep-numbered literal column: the plan differs per rep, the work
    does not (a literal costs nothing and no operator reads it)."""
    return df.withColumn("bench_rep", F.lit(rep))


def _built_rep(w, i: int, build):
    """Rep of a validating workload. Rep 0 builds the validated plan (the
    driver-side cost a job pays once, reported as compiler.build_ms);
    every rep then runs it under its own rep tag, timed as action_s."""
    ops = {}
    if i == 0:
        w.built, build_s = _timed(build)
        ops["compiler.build_ms"] = build_s * 1e3
    out = _tag(w.built, i)
    rows, ops["action_s"] = _timed(out.collect)
    return rows, [out], ops


class Workload:
    name = ""
    engine: str | None = None  # "expr" or "kernel" when the workload validates

    def build(self) -> None:
        """Driver-side objects a job builds before rows flow (validators)."""

    def generate(self, spark, seed: int, work: str) -> int:
        """Write the inputs, compute the known answer; return input rows."""
        raise NotImplementedError

    def rep(self, i: int):
        raise NotImplementedError

    def check(self, output) -> bool:
        raise NotImplementedError

    def output_facts(self, output, facts: list[dict]) -> dict:
        """Per-layer counts read off a rep's output and executed plans."""
        return {}

    def extras(self, i: int, layer: dict) -> None:
        """Traced runs only: per-layer side measurements, outside timing."""


# ---------------------------------------------------------------- flagship

class FlagshipTyped(Workload):
    """validate_source_table (typed-row Column path) then partition_ledger."""

    name = "flagship_typed"
    engine = "expr"
    rows = 100_000
    cols = ["repo", "path", "commit", "lang", "content"]

    def build(self) -> None:
        flagship_validator()

    def generate(self, spark, seed, work):
        self.spark, self.path = spark, f"{work}/source"
        synth.write_source_table(spark, self.path, self.rows, seed=seed)
        self.expect_invalid = sum(
            1 for r in range(self.rows) if any(r % m == 0 for m in _INVALID_MODS))
        # one violation per broken keyword; a NULL repo and a NULL content
        # in the same row share one "required" violation
        self.expect_violations = sum(
            (r % 997 == 0 or r % 1009 == 0) + sum(r % m == 0 for m in (499, 503, 991))
            for r in range(self.rows))
        return self.rows

    def _build(self):
        self.validated = validate_source_table(self.spark.read.parquet(self.path))
        return partition_ledger(self.validated)

    def rep(self, i):
        return _built_rep(self, i, self._build)

    def check(self, rows):
        return (sum(r.rows_scanned for r in rows) == self.rows
                and sum(r.violation_rows for r in rows) == self.expect_invalid
                and sum(r.violations for r in rows) == self.expect_violations)

    def extras(self, i, layer):
        # the columns the ledger reads, so the difference is the ledger itself
        only = _tag(self.validated, i).select("row_id", "valid", "violations")
        _, layer["validate_only_s"] = _timed(lambda: _noop(only))
        scan = _tag(self.spark.read.parquet(self.path).select(*self.cols), i)
        _, layer["scan.floor_s"] = _timed(lambda: _noop(scan))


# ------------------------------------------------------------- json kernel

# Draft-07 document schema. The recursive $ref on nested tags is outside
# what the expression compiler handles, so engine="auto" falls back to
# the Arrow kernel by its own decision; "maximum" is broken by the
# generator's token counts above 120 (15 of the 120 values).
DOC_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "definitions": {
        "tag": {"anyOf": [
            {"type": "string", "minLength": 1},
            {"type": "array", "items": {"$ref": "#/definitions/tag"}},
        ]},
    },
    "type": "object",
    "required": ["repo", "path", "commit", "lang", "tokens", "tags"],
    "properties": {
        "repo": {"type": "string", "pattern": "^[A-Za-z0-9_.-]+/[A-Za-z0-9_.-]+$"},
        "path": {"type": "string", "minLength": 1, "maxLength": 512},
        "commit": {"type": "string", "pattern": "^[0-9a-f]{40}$"},
        "lang": {"enum": synth.LANGS},
        "tokens": {"type": "integer", "minimum": 1, "maximum": 120},
        "tags": {"type": "array", "items": {"$ref": "#/definitions/tag"}},
    },
}


class JsonKernel(Workload):
    """SparkValidator.apply_json over the generator's JSON-document rows."""

    name = "json_kernel"
    engine = "kernel"
    table_rows = 64_000  # about 30% of rows carry a JSON document

    def build(self) -> None:
        self.validator = SparkValidator(DOC_SCHEMA, dialect="draft7")

    def generate(self, spark, seed, work):
        self.spark, self.path = spark, f"{work}/docs"
        (synth.source_code_table(spark, self.table_rows, seed=seed)
         .filter(F.col("content").startswith("{"))
         .select("row_id", F.col("content").alias("doc"))
         .write.parquet(self.path))
        docs = [(r.row_id, r.doc) for r in spark.read.parquet(self.path).collect()]
        oracle = jsonschema.Draft7Validator(DOC_SCHEMA)
        self.expect = {rid: oracle.is_valid(json.loads(d)) for rid, d in docs}
        self.sample = [d for _, d in docs[:400]]
        return len(docs)

    def rep(self, i):
        return _built_rep(self, i, lambda: self.validator.apply_json(
            self.spark.read.parquet(self.path), "doc")
            .select("row_id", "valid", F.size("violations").alias("n_viol")))

    def check(self, rows):
        return (len(rows) == len(self.expect)
                and all(r.valid == self.expect.get(r.row_id) and (r.n_viol == 0) == r.valid
                        for r in rows))

    def extras(self, i, layer):
        # single-thread driver-side kernel cost on a fixed doc sample
        v = self.validator
        reps = []
        for _ in range(3):
            k, t_compile = _timed(lambda: compile_schema(
                DOC_SCHEMA, registry=v.registry, config=v.config))
            _, t_full = _timed(lambda: [k.validate_json(d) for d in self.sample])
            _, t_bool = _timed(lambda: [k.is_valid_json(d) for d in self.sample])
            reps.append((t_compile, t_full, t_bool))
        n = len(self.sample)
        layer["kernel.compile_ms"] = statistics.median(r[0] for r in reps) * 1e3
        layer["kernel.us_per_doc"] = statistics.median(r[1] for r in reps) * 1e6 / n
        layer["kernel.us_per_doc_bool"] = statistics.median(r[2] for r in reps) * 1e6 / n


# ------------------------------------------------------------ table checks

_LEN_LO, _LEN_HI = 0.0, 3000.0


def _with_len(df):
    return df.select(F.length("content").alias("len"))


class TableChecks(Workload):
    """Column stats, uniqueness, referential integrity, drift snapshot and
    PSI/KS over the generated table and its drift=True twin."""

    name = "table_checks"
    rows = 10_000
    keys = ["repo", "path", "commit"]

    def generate(self, spark, seed, work):
        self.spark, self.work = spark, work
        self.base_path, self.drift_path = f"{work}/base", f"{work}/drift"
        synth.write_source_table(spark, self.base_path, self.rows, seed=seed)
        synth.write_source_table(spark, self.drift_path, self.rows, seed=seed, drift=True)
        n = self.rows
        self.nulls = {"repo": sum(1 for r in range(n) if r % 997 == 0),
                      "content": sum(1 for r in range(n) if r % 1009 == 0)}
        keys = []
        for r in range(n):
            if r % 997 == 0:
                continue  # NULL repo: never a duplicate
            kid = r - 1 if r % _DUP_MOD == 0 and r > 0 else r
            keys.append((kid, r if r % 499 == 0 else -1, r % 991 == 0))
        counts: dict = {}
        for k in keys:
            counts[k] = counts.get(k, 0) + 1
        self.expect_unique = (n, len(counts), sum(1 for c in counts.values() if c > 1),
                              sum(c for c in counts.values() if c > 1))
        orphans = [f"org{r % synth.N_ORGS}/repo{r}" for r in synth.ORPHAN_REPO_IDS]
        base = spark.read.parquet(self.base_path)
        self.expect_orphans = {r.repo: r["count"] for r in
                               base.filter(F.col("repo").isin(orphans)).groupBy("repo").count().collect()}
        self.expect_orphans[None] = self.nulls["repo"]
        self.drifted_share = sum(1 for r in range(n) if r % 101 == 55) / n
        return n

    def rep(self, i):
        spark = self.spark
        base = _tag(spark.read.parquet(self.base_path), i)
        drifted = _tag(spark.read.parquet(self.drift_path), i)
        ops, frames, out = {}, [], {}

        def run(metric, df):
            frames.append(df)
            rows, ops[metric] = _timed(df.collect)
            return rows

        out["stats"] = run("checks.column_stats_s", checks.column_stats(
            base, ["repo", "path", "commit", "lang", "content"]))
        out["unique"] = run("checks.uniqueness_s", checks.uniqueness_report(base, self.keys))
        out["orphans"] = run("checks.referential_s", checks.referential_report(
            base, synth.repos_dim(spark), "repo", broadcast_parent=True))
        snap = drift.BaselineSnapshot(f"{self.work}/baseline_{i}")
        _, ops["drift.snapshot_write_s"] = _timed(lambda: snap.write(
            drift.bucket_histogram(_with_len(base), "len", _LEN_LO, _LEN_HI, 30),
            "source", "content_len"))
        t0 = time.perf_counter()
        baseline = snap.read(spark, "source", "content_len")
        out["psi"] = [run("psi_drift", drift.psi_from_histograms(
            drift.bucket_histogram(_with_len(drifted), "len", _LEN_LO, _LEN_HI, 30),
            baseline))[0].psi]
        out["psi"].append(run("psi_base", drift.psi_from_histograms(
            drift.bucket_histogram(_with_len(base), "len", _LEN_LO, _LEN_HI, 30),
            baseline))[0].psi)
        ops["drift.psi_s"] = time.perf_counter() - t0
        out["ks"] = run("drift.ks_s", drift.ks_bucketed(
            _with_len(drifted), _with_len(base), "len", _LEN_LO, _LEN_HI, 200))[0].ks
        return out, frames, ops

    def check(self, out):
        stats = {r.column: r for r in out["stats"]}
        u = out["unique"][0]
        psi_drift, psi_base = out["psi"]
        return (all(r.row_count == self.rows for r in stats.values())
                and all(stats[c].null_count == self.nulls.get(c, 0) for c in stats)
                and (u.row_count, u.distinct_keys, u.duplicate_keys, u.duplicated_rows)
                == self.expect_unique
                and {r.repo: r.orphan_rows for r in out["orphans"]} == self.expect_orphans
                and psi_drift > 1e-4 and psi_base == 0.0
                and 0.0 < out["ks"] <= self.drifted_share + 1e-9)


# ------------------------------------------------------------ corpus dedup

def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _shingles(text: str, n: int = 5) -> set[str]:
    t = " ".join(text.lower().split())
    return {t[i:i + n] for i in range(max(len(t) - (n - 1), 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _line_fracs(text: str) -> tuple[float, float]:
    lines = text.split("\n")
    distinct = list(dict.fromkeys(lines))
    chars, dchars = sum(map(len, lines)), sum(map(len, distinct))
    return ((len(lines) - len(distinct)) / len(lines),
            (chars - dchars) / chars if chars else 0.0)


class CorpusDedup(Workload):
    """MinHash-LSH near-duplicate pairs plus Gopher repetition features
    over a seeded corpus with planted near-duplicates and repeated lines."""

    name = "corpus_dedup"
    docs = 400
    threshold = 0.7

    def generate(self, spark, seed, work):
        rng = random.Random(seed)
        vocab = _vocab(rng, 5000)
        texts = []
        for _ in range(self.docs):
            lines = []
            for _ in range(rng.randint(4, 9)):
                if lines and rng.random() < 0.2:
                    lines.append(rng.choice(lines))  # planted repeated line
                else:
                    lines.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(5, 12))))
            texts.append("\n".join(lines))
        # one near-copy (one word swapped) for every tenth document; the
        # swap keeps Jaccard far above the threshold, and unrelated
        # documents over a 5000-word vocabulary sit far below it
        self.expect_pairs = {}
        for src in range(0, self.docs, 10):
            words = texts[src].split(" ")
            words[rng.randrange(len(words))] = rng.choice(vocab)
            copy = " ".join(words)
            j = _jaccard(texts[src], copy)
            if j < 0.85:
                continue
            texts.append(copy)
            self.expect_pairs[(src, len(texts) - 1)] = j
        self.expect_lines = {i: _line_fracs(t) for i, t in enumerate(texts)}
        self.spark, self.path = spark, f"{work}/corpus"
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string") \
            .repartition(spark.sparkContext.defaultParallelism).write.parquet(self.path)
        self.seed = seed
        return len(texts)

    def _docs(self, i):
        return _tag(self.spark.read.parquet(self.path), i)

    def rep(self, i):
        ops = {}
        t0 = time.perf_counter()
        pairs_df = minhash_lsh_pairs(self._docs(i), "text", "doc_id",
                                     threshold=self.threshold, seed=self.seed + i)
        pairs = pairs_df.collect()
        ops["dedup.lsh_s"] = time.perf_counter() - t0
        feats_df = repetition_features(self._docs(i), "text", "doc_id").drop("text")
        feats, ops["repetition.s"] = _timed(feats_df.collect)
        return (pairs, feats), [pairs_df, feats_df], ops

    def check(self, out):
        pairs, feats = out
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
        return (got.keys() == self.expect_pairs.keys()
                and all(abs(got[k] - j) < 1e-9 for k, j in self.expect_pairs.items())
                and len(feats) == len(self.expect_lines)
                and all(abs(r.dup_line_frac - self.expect_lines[r.doc_id][0]) < 1e-9
                        and abs(r.dup_line_char_frac - self.expect_lines[r.doc_id][1]) < 1e-9
                        for r in feats))

    def output_facts(self, out, facts):
        # rows entering the verify join = rows read from the cached
        # candidate-pair relation
        cand = max((n for f in facts for cols, n in f["cached_scans"]
                    if cols == ("id_a", "id_b")), default=0)
        pairs = len(out[0])
        return {"dedup.pairs": float(pairs),
                "dedup.verify_yield": pairs / cand if cand else 0.0}

    def extras(self, i, layer):
        _, layer["dedup.signatures_s"] = _timed(lambda: _noop(
            minhash_signatures(self._docs(i), "text", "doc_id", seed=self.seed + i)))
        stats = hot_bucket_stats("minhash_lsh", timeout=5.0) or {}
        layer["dedup.hot_bucket_drops"] = float(stats.get("dropped_buckets", 0))


WORKLOADS = {w.name: w for w in (FlagshipTyped, JsonKernel)}
# operator jobs a traced run of each workload adds, measured per layer only
SIDE_JOBS = {"flagship_typed": TableChecks, "json_kernel": CorpusDedup}
