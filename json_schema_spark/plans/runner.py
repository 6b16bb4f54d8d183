"""SparkValidator — apply a compiled schema to DataFrames.

``engine='auto'`` tries the Column-expression fast path
(:mod:`json_schema_spark.plans.compiler`) and falls back to the
Arrow-batched pandas-UDF kernel for schemas the expression compiler
cannot express — the Spark analogue of the reference's single
``Schema.apply`` entry point (``Schema.java:30-86``), with laziness
supplied by the DataFrame plan instead of a cold reactive pipeline.

The UDF fallback ships (schema-JSON, registry-docs-JSON, config) to
executors and compiles the Python kernel **once per worker** via a
module-level cache — compile-once / apply-many across Arrow batches.
"""

from __future__ import annotations

import json
import os
import zipimport
from typing import Any, Iterable, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..core.registry import SchemaRegistry
from ..core.validator import (CompileConfig, CompiledSchema,
                              SchemaCompileError, compile_schema)
from .compiler import (
    Check,
    ExprUnsupported,
    TypedRowCompiler,
    VariantCompiler,
    ok_of,
    violations_array,
)

__all__ = ["SparkValidator", "VIOLATION_SCHEMA"]

VIOLATION_SCHEMA = "array<struct<path:string,keyword:string,message:string>>"
_RESULT_SCHEMA = f"struct<valid:boolean,violations:{VIOLATION_SCHEMA}>"

# executor-side kernel cache: one compile per (schema, config) per worker
_KERNEL_CACHE: dict[tuple, CompiledSchema] = {}


def _install_zip_stat_gate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's zip
    directory only when the archive file changed on disk.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. Before CPython 3.13 that re-reads the whole central
    directory of every archive the worker imported from, pyspark.zip
    (one zipimporter per sub-package) and the spark-core jar: about 40%
    of the Python workers' run time on the json_kernel benchmark
    (BASELINE.md, "round 6 · worker setup"). The wrapper keeps the
    ``(st_mtime_ns, st_size, st_ino)`` signature an importer saw at its
    last re-read and skips the re-read while ``os.stat`` returns the
    same one; a changed or unreadable archive is re-read as before.
    Idempotent."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        if sig is not None and sig == getattr(self, "_stat_sig", None):
            return
        original(self)
        self._stat_sig = sig

    invalidate_caches._stat_gated = True
    cls.invalidate_caches = invalidate_caches


def _executor_kernel(key: tuple, schema_json: str, docs_json: str, dialect: str,
                     fmt: bool, content_mode: str, collect: bool,
                     custom_formats: Optional[dict] = None,
                     treat_as_array: bool = False,
                     regex_factory=None,
                     content_encodings: Optional[dict] = None,
                     content_media_types: Optional[dict] = None) -> CompiledSchema:
    k = _KERNEL_CACHE.get(key)
    if k is None:
        reg = SchemaRegistry(default_dialect=dialect)
        for uri, doc in json.loads(docs_json).items():
            if not uri.startswith("urn:json-schema-spark:anon:"):
                reg.add(doc, uri)
        cfg = CompileConfig(dialect=dialect, format_assertions=fmt,
                            content_mode=content_mode, collect_errors=collect,
                            custom_formats=custom_formats or {},
                            treat_as_array=treat_as_array,
                            regex_factory=regex_factory,
                            content_encodings=content_encodings or {},
                            content_media_types=content_media_types or {})
        k = compile_schema(json.loads(schema_json), registry=reg, config=cfg)
        _KERNEL_CACHE[key] = k
        _install_zip_stat_gate()
    return k


class SparkValidator:
    """Compile once on the driver; apply to any number of DataFrames.

    Parameters mirror the reference's ``SchemaBuilder``
    (``SchemaBuilder.java:356-388``): dialect default, format-assertion
    switch, content mode, external schema registry.
    """

    def __init__(
        self,
        schema: Any,
        dialect: Optional[str] = None,
        format_assertions: bool = False,
        content_mode: str = "default",
        registry: Optional[SchemaRegistry] = None,
        engine: str = "auto",  # auto | expr | udf
        custom_formats: Optional[dict] = None,  # name -> Callable[[str], bool]
        treat_as_array: bool = False,  # experimental setTryCastToArray analogue
        regex_factory=None,  # pattern -> search predicate (RegexFactory hook)
        content_encodings: Optional[dict] = None,  # name -> str -> bytes|None
        content_media_types: Optional[dict] = None,  # name -> str -> parsed|None
        embedded_spec_enabled: bool = True,  # allowEmbedOriginalSpec analogue
    ):
        if isinstance(schema, str):
            schema = json.loads(schema)
        self.schema = schema
        self.engine = engine
        # custom format predicates / regex dialect / content codecs ride
        # to executors inside the UDF closure (Spark pickles them) —
        # mirrors SchemaBuilder.java:306-323 (formats),
        # SchemaBuilder.setRegexFactory (RegexFactory.java:19-22) and
        # SimpleContentValidationRegistry (CHANGES 1.2.0)
        self.custom_formats = dict(custom_formats or {})
        self.regex_factory = regex_factory
        self.content_encodings = {k.lower(): v for k, v in (content_encodings or {}).items()}
        self.content_media_types = {k.lower(): v for k, v in (content_media_types or {}).items()}
        self.config = CompileConfig(
            dialect=dialect or "draft7",
            format_assertions=format_assertions,
            content_mode=content_mode,
            custom_formats=self.custom_formats,
            treat_as_array=treat_as_array,
            regex_factory=self.regex_factory,
            content_encodings=self.content_encodings,
            content_media_types=self.content_media_types,
        )
        self.registry = registry or SchemaRegistry(
            default_dialect=self.config.dialect,
            embedded_spec_enabled=embedded_spec_enabled)
        self.root_uri = self.registry.add(schema)
        self.dialect = self.registry.dialect_of_node(schema) if isinstance(schema, dict) else self.config.dialect
        self.config.dialect = self.dialect
        # a custom meta-schema declaring the format-assertion vocabulary
        # turns assertions on engine-wide (covers the expression path;
        # the kernel additionally honors it per node)
        if isinstance(schema, dict) and self.registry.format_assertion_of(schema):
            self.config.format_assertions = True
        # driver-side kernel (differential oracle + local validation).
        # Schemas the reference REJECTS still fail here, eagerly; but a
        # pattern using a Java-only regex construct (class
        # intersection, \G, ...) is valid in the reference and on the
        # rlike expression path, so that one failure is deferred to
        # first kernel use instead of blocking construction.
        self._kernel = None
        self._kernel_error: Exception | None = None
        try:
            self._kernel = compile_schema(
                schema, registry=self.registry, config=self.config)
        except SchemaCompileError as e:
            from ..functions.java_regex import JavaOnlyRegex

            if isinstance(e.__cause__, JavaOnlyRegex):
                self._kernel_error = e
            else:
                raise
        self._docs_json = json.dumps(
            {u: d for u, d in self.registry.docs.items()}, default=float
        )
        self._schema_json = json.dumps(schema, default=float)
        # cache-key component distinguishing custom hook sets (formats,
        # regex dialect, content codecs) in the long-lived executor
        # kernel cache. Keyed by CONTENT (pickled bytes), not instance
        # identity: id() can be reused after GC (stale-entry hazard) and
        # needlessly defeats cache sharing between identical validators.
        if (self.custom_formats or self.regex_factory is not None
                or self.content_encodings or self.content_media_types):
            import hashlib

            from pyspark import cloudpickle

            def _h(fn):
                return hashlib.sha256(cloudpickle.dumps(fn)).hexdigest()

            self._formats_key = (
                tuple((n, _h(f)) for n, f in sorted(self.custom_formats.items())),
                _h(self.regex_factory) if self.regex_factory is not None else None,
                tuple((n, _h(f)) for n, f in sorted(self.content_encodings.items())),
                tuple((n, _h(f)) for n, f in sorted(self.content_media_types.items())),
            )
        else:
            self._formats_key = ()


    @property
    def kernel(self):
        if self._kernel is None:
            raise self._kernel_error
        return self._kernel

    # ------------------------------------------------------ JSON mode

    def _content_asserts(self) -> bool:
        from ..functions import content as content_mod

        return self.config.content_mode in (content_mod.ENCODING,
                                            content_mod.ENCODING_AND_SCHEMA)

    def _expr_checks_json(self, doc: Column) -> tuple[Column, list[Check]]:
        comp = VariantCompiler(
            self.registry,
            dialect=self.dialect,
            format_assertions=self.config.format_assertions,
            content_asserts=self._content_asserts(),
            regex_factory=self.regex_factory,
        )
        v = F.try_parse_json(doc)
        checks = comp.compile(self.schema, v, ())
        # unparseable document = invalid instance (Schema.apply parses first)
        parse_fail = Check(doc.isNotNull() & v.isNull(), "", "$parse", "not parseable JSON")
        return v, [parse_fail] + checks

    def json_columns(self, doc: Column) -> tuple[Column, Column]:
        """(valid, violations) Columns for a JSON-string doc column.

        Raises ExprUnsupported when the schema needs the UDF kernel.
        """
        if self.engine == "udf":
            raise ExprUnsupported("engine forced to udf")
        if self.config.treat_as_array:
            raise ExprUnsupported("treat_as_array needs the UDF kernel")
        _, checks = self._expr_checks_json(doc)
        return ok_of(checks), violations_array(checks)

    def _kernel_loader(self, collect: bool):
        """Executor-side kernel getter for the UDFs: captures plain values
        only (never ``self``), keyed for the per-worker kernel cache."""
        key = (self._schema_json, self._docs_json, self.dialect,
               self.config.format_assertions, self.config.content_mode, collect,
               self._formats_key, self.config.treat_as_array)
        args = (key, self._schema_json, self._docs_json, self.dialect,
                self.config.format_assertions, self.config.content_mode, collect,
                self.custom_formats, self.config.treat_as_array, self.regex_factory,
                self.content_encodings, self.content_media_types)
        return lambda: _executor_kernel(*args)

    def _udf_result(self) -> "F.pandas_udf":
        self.kernel  # fail fast driver-side (Java-only regex schemas)
        load = self._kernel_loader(True)

        @F.pandas_udf(_RESULT_SCHEMA)
        def validate_batch(docs: pd.Series) -> pd.DataFrame:
            kernel = load()
            valids, viols = [], []
            for doc in docs:
                if doc is None:
                    valids.append(None)
                    viols.append(None)
                    continue
                ok, errs = kernel.validate_json(doc)
                valids.append(ok)
                viols.append([
                    {"path": p, "keyword": kw, "message": m} for p, kw, m in errs
                ])
            return pd.DataFrame({"valid": valids, "violations": viols})

        return validate_batch

    def udf_valid(self) -> "F.pandas_udf":
        """Boolean-only vectorized verdict UDF (fast mode — no error
        materialization, mirrors the kernel's non-collecting path)."""
        load = self._kernel_loader(False)

        @F.pandas_udf("boolean")
        def valid_batch(docs: pd.Series) -> pd.Series:
            f = load().is_valid_json
            return docs.map(lambda d: None if d is None else f(d))

        return valid_batch

    def _kernel_columns(self, df: DataFrame, doc: Column,
                        with_violations: bool) -> DataFrame:
        """Adds the kernel UDF's ``valid`` (and ``violations``) columns;
        the struct result rides in a reserved column, so a user column of
        any other name survives."""
        if not with_violations:
            return df.withColumn("valid", self.udf_valid()(doc))
        tmp = "__jss_result"
        return (df.withColumn(tmp, self._udf_result()(doc))
                  .withColumn("valid", F.col(f"{tmp}.valid"))
                  .withColumn("violations", F.col(f"{tmp}.violations"))
                  .drop(tmp))

    def apply_json(self, df: DataFrame, doc_col: str = "doc",
                   with_violations: bool = True) -> DataFrame:
        """Adds ``valid: boolean`` (and ``violations``) columns.

        Expression path parses the document ONCE into an intermediate
        variant column (separate projection). Building every check on
        the raw ``try_parse_json(doc)`` expression would inline a
        re-parse at each of the ~2×keywords occurrences — conditional
        (CASE WHEN) contexts defeat codegen subexpression elimination,
        so for large documents that multiplies the dominant parse cost.
        """
        doc = F.col(doc_col)
        if self.engine in ("auto", "expr") and not self.config.treat_as_array:
            try:
                comp = VariantCompiler(
                    self.registry,
                    dialect=self.dialect,
                    format_assertions=self.config.format_assertions,
                    content_asserts=self._content_asserts(),
                    regex_factory=self.regex_factory,
                )
                tmp = "__jss_variant"
                checks = comp.compile(self.schema, F.col(tmp), ())
                parse_fail = Check(doc.isNotNull() & F.col(tmp).isNull(),
                                   "", "$parse", "not parseable JSON")
                checks = [parse_fail] + checks
                out = df.withColumn(tmp, F.try_parse_json(doc))
                # NULL doc → NULL verdict (matches the UDF kernel path)
                out = out.withColumn(
                    "valid",
                    F.when(doc.isNull(), F.lit(None).cast("boolean")).otherwise(ok_of(checks)),
                )
                if with_violations:
                    out = out.withColumn(
                        "violations",
                        F.when(doc.isNull(), F.lit(None)).otherwise(violations_array(checks)),
                    )
                return out.drop(tmp)
            except ExprUnsupported:
                if self.engine == "expr":
                    raise
        return self._kernel_columns(df, doc, with_violations)

    # ----------------------------------------------------- typed mode

    def table_checks(self, df: DataFrame, columns: Optional[Iterable[str]] = None) -> list[Check]:
        comp = TypedRowCompiler(
            self.registry,
            dialect=self.dialect,
            format_assertions=self.config.format_assertions,
            content_asserts=self._content_asserts(),
            regex_factory=self.regex_factory,
        )
        names = list(columns) if columns is not None else df.columns
        dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
        fields = {n: (F.col(n), dtypes[n]) for n in names}
        return comp.compile(self.schema, (None, None, fields), ())

    def apply_table(self, df: DataFrame, columns: Optional[Iterable[str]] = None,
                    with_violations: bool = True) -> DataFrame:
        """Validate typed rows (one row = one document; columns =
        top-level properties). Pure Column expressions — this is the
        flagship 100 TB path.

        Schemas the typed compiler cannot express (recursive $ref,
        dynamic unevaluated*, content keywords, …) fall back to the
        Arrow kernel over ``to_json(struct(columns))`` — Spark's JSON
        generator drops NULL fields by default, which is exactly the
        typed-mode NULL = absent convention. ``engine='expr'`` raises
        instead of falling back."""
        if self.engine in ("auto", "expr"):
            try:
                checks = self.table_checks(df, columns)
                out = df.withColumn("valid", ok_of(checks))
                if with_violations:
                    out = out.withColumn("violations", violations_array(checks))
                return out
            except ExprUnsupported:
                if self.engine == "expr":
                    raise
        names = list(columns) if columns is not None else df.columns
        doc = F.to_json(F.struct(*[F.col(n) for n in names]))
        return self._kernel_columns(df, doc, with_violations)

    # ------------------------------------------------------- results

    @staticmethod
    def violations_df(validated: DataFrame, id_cols: Iterable[str] = (),
                      with_kinds: bool = False) -> DataFrame:
        """Explode per-row violations into a violations DataFrame
        (result-tree sink analogue — ValidationResultFactory.java:240-262).

        ``with_kinds=True`` adds an ``error_kind`` column with the typed
        error enum (``results/EErrorType.java:3-34`` parity) for
        programmatic error matching — a codegen'd CASE chain, no UDF."""
        cols = [F.col(c) for c in id_cols]
        out = (
            validated.filter(~F.col("valid"))
            .select(*cols, F.explode("violations").alias("v"))
            .select(*cols, F.col("v.path").alias("json_path"),
                    F.col("v.keyword").alias("keyword"),
                    F.col("v.message").alias("message"))
        )
        if with_kinds:
            from ..core.errors import error_kind_col

            out = out.withColumn(
                "error_kind", error_kind_col(F.col("keyword"), F.col("message")))
        return out
