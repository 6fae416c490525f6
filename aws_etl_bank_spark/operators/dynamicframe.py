"""DynamicFrame — the reference's core abstraction, re-expressed over Spark
DataFrames.

A DynamicFrame is a DataFrame plus (a) a self-describing glue schema in
which type conflicts are ChoiceTypes (carried physically as choice-structs,
see :mod:`aws_etl_bank_spark.gluetypes`), and (b) an error-record channel:
rows that fail user map/filter functions become error records instead of
failing the job (reference awsglue/dynamicframe.py:47-124; SURVEY.md §2.9,
§2.10).

Design notes (Spark-first, 100 TB posture):

- Every relational operator here is a *declarative DataFrame rewrite* —
  Catalyst sees the real plan and keeps pushdown/pruning/codegen.  The only
  Python-on-the-data paths are ``map``/``filter`` with user callables and
  they run as Arrow-batched ``mapInPandas``, never row-at-a-time RDD
  pickling like the reference (awsglue/dynamicframe.py:58-63,96-124).
- The error channel is a pair of lazily-derived DataFrames split from one
  combined ``mapInPandas`` output — no per-row Python round trip for
  operators that never error.
- ``relationalize`` joinkeys are deterministic when ``key_cols`` is given
  (retry-safe at scale); ``monotonically_increasing_id`` is only the
  documented fallback for keyless frames.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from aws_etl_bank_spark import gluetypes as gt
from aws_etl_bank_spark.session import local_frame

_ERROR_SCHEMA = T.StructType(
    [
        T.StructField("record", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("stage", T.StringType(), True),
    ]
)

#: Exceptions in a Filter callable that mean "silently drop the row"
#: (reference awsglue/dynamicframe.py:86-90).
_FILTER_DROP_EXCEPTIONS = (KeyError, ValueError, TypeError)


class DynamicRecord(dict):
    """Per-row view inside map/filter callables: a dict with attribute
    access (reference awsglue/gluetypes.py:453-458)."""

    def __getattr__(self, item):
        try:
            return self[item]
        except KeyError as e:  # pragma: no cover - attribute protocol
            raise AttributeError(item) from e

    def __setattr__(self, key, value):
        self[key] = value


class ResolveOption:
    """Per-path choice resolution for ``toDF`` (reference
    awsglue/dynamicframe.py:31-44). ``action`` ∈ Project / Cast /
    KeepAsStruct; ``target`` is a glue type for Project/Cast."""

    def __init__(self, path: str, action: str, target=None):
        self.path = path
        self.action = action
        self.target = target


def _empty_errors(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], _ERROR_SCHEMA)


class DynamicFrame:
    def __init__(
        self,
        df: DataFrame,
        glue_ctx=None,
        name: str = "",
        errors_df: DataFrame | None = None,
        stage_errors_df: DataFrame | None = None,
        choices: dict[str, gt.ChoiceType] | None = None,
    ):
        self._df = df
        self.glue_ctx = glue_ctx
        self.name = name
        self._errors_df = errors_df
        self._stage_errors_df = stage_errors_df
        #: top-level column name -> ChoiceType for columns carried as
        #: choice-structs.
        self._choices: dict[str, gt.ChoiceType] = dict(choices or {})

    # -- basics ------------------------------------------------------------

    @property
    def spark(self) -> SparkSession:
        return self._df.sparkSession

    def _with_df(self, df: DataFrame, name: str | None = None, choices=None) -> "DynamicFrame":
        return DynamicFrame(
            df,
            self.glue_ctx,
            self.name if name is None else name,
            errors_df=self._errors_df,
            stage_errors_df=self._stage_errors_df,
            choices=self._choices if choices is None else choices,
        )

    @classmethod
    def fromDF(cls, df: DataFrame, glue_ctx=None, name: str = "") -> "DynamicFrame":
        """reference awsglue/dynamicframe.py:149-159"""
        return cls(df, glue_ctx, name)

    def toDF(self, options: list[ResolveOption] | None = None) -> DataFrame:
        """DataFrame view, resolving choice columns per ``options``
        (reference awsglue/dynamicframe.py:129-147)."""
        frame = self
        if options:
            specs = []
            for opt in options:
                act = opt.action.lower()
                if act == "project":
                    specs.append((opt.path, f"project:{opt.target.typeName()}"))
                elif act == "cast":
                    specs.append((opt.path, f"cast:{opt.target.typeName()}"))
                elif act in ("keepasstruct", "keep_as_struct"):
                    specs.append((opt.path, "make_struct"))
            frame = frame.resolveChoice(specs=specs)
        return frame._df

    def schema(self) -> gt.StructType:
        spark_struct = gt.from_spark_type(self._df.schema)
        for col, choice in self._choices.items():
            for f in spark_struct.fields:
                if f.name == col:
                    f.dataType = choice
        return spark_struct

    def printSchema(self):
        self._df.printSchema()

    def show(self, n: int = 20):
        self._df.show(n)

    def count(self) -> int:
        return self._df.count()

    def getNumPartitions(self) -> int:
        """reference awsglue/dynamicframe.py:477-479"""
        return self._df.rdd.getNumPartitions()

    def repartition(self, num_partitions: int, transformation_ctx: str = "") -> "DynamicFrame":
        return self._with_df(self._df.repartition(num_partitions))

    def coalesce(self, num_partitions: int, shuffle: bool = False, transformation_ctx: str = "") -> "DynamicFrame":
        """reference awsglue/dynamicframe.py:487-491 (shuffle=True →
        full repartition)."""
        if shuffle:
            return self._with_df(self._df.repartition(num_partitions))
        return self._with_df(self._df.coalesce(num_partitions))

    def with_frame_schema(self, schema: gt.StructType) -> "DynamicFrame":
        """Schema short-circuit (reference dynamicframe.py:65-67): caller
        supplies the merged schema so no inference pass is needed."""
        choices = {
            f.name: f.dataType for f in schema.fields if isinstance(f.dataType, gt.ChoiceType)
        }
        return self._with_df(self._df, choices={**self._choices, **choices})

    # -- error channel (SURVEY.md §2.10) -----------------------------------

    def _errors(self) -> DataFrame:
        if self._errors_df is None:
            return _empty_errors(self.spark)
        return self._errors_df

    def errorsAsDynamicFrame(self) -> "DynamicFrame":
        """reference awsglue/dynamicframe.py:493-498"""
        return DynamicFrame(self._errors(), self.glue_ctx, f"{self.name}_errors")

    def errorsCount(self) -> int:
        return self._errors().count()

    def stageErrorsCount(self) -> int:
        if self._stage_errors_df is None:
            return 0
        return self._stage_errors_df.count()

    def assertErrorThreshold(self, stage_threshold: int = 0, total_threshold: int = 0):
        """reference awsglue/dynamicframe.py:514-519"""
        stage = self.stageErrorsCount()
        total = self.errorsCount()
        if stage_threshold and stage > stage_threshold:
            raise RuntimeError(f"stage error count {stage} exceeds threshold {stage_threshold}")
        if total_threshold and total > total_threshold:
            raise RuntimeError(f"total error count {total} exceeds threshold {total_threshold}")

    def _merge_errors(self, new_errors: DataFrame) -> tuple[DataFrame, DataFrame]:
        total = self._errors().unionByName(new_errors) if self._errors_df is not None else new_errors
        return total, new_errors

    # -- map / filter with error capture -----------------------------------

    def _infer_map_schema(self, f: Callable, sample: int = 20) -> T.StructType:
        rows = [r.asDict(recursive=True) for r in self._df.limit(sample).collect()]
        results = []
        for rec in rows:
            try:
                out = f(DynamicRecord(rec))
                if out is not None:
                    results.append(dict(out))
            except Exception:
                continue
        if not results:
            return self._df.schema
        return self.spark.createDataFrame(results).schema

    def map(
        self,
        f: Callable,
        transformation_ctx: str = "",
        info: str = "",
        stageThreshold: int = 0,
        totalThreshold: int = 0,
        schema: T.StructType | None = None,
    ) -> "DynamicFrame":
        """Record-wise transform with error capture (reference
        awsglue/dynamicframe.py:96-124): ``None`` return or any exception
        turns the row into an error record instead of failing the job.

        Runs as Arrow-batched ``mapInPandas`` (not the reference's pickled
        RDD round-trip).  ``schema`` declares the output; if omitted it is
        inferred from a driver-side sample (documented extra pass —
        supply ``schema`` in production, mirroring ``with_frame_schema``).
        """
        import pandas as pd

        out_schema = schema or self._infer_map_schema(f)
        out_names = [fld.name for fld in out_schema.fields]
        combined = T.StructType(
            list(out_schema.fields)
            + [T.StructField("_record", T.StringType()), T.StructField("_error", T.StringType())]
        )
        stage = info or transformation_ctx or "map"

        def run(batches):
            for pdf in batches:
                out_rows = []
                for rec in pdf.to_dict("records"):
                    try:
                        res = f(DynamicRecord(rec))
                        if res is None:
                            raise ValueError("map function returned None")
                        row = {k: res.get(k) for k in out_names}
                        row["_record"] = None
                        row["_error"] = None
                    except Exception as e:  # error record, job continues
                        row = {k: None for k in out_names}
                        row["_record"] = json.dumps(rec, default=str)
                        row["_error"] = f"{type(e).__name__}: {e}"
                    out_rows.append(row)
                yield pd.DataFrame(out_rows, columns=out_names + ["_record", "_error"])

        combined_df = self._df.mapInPandas(run, schema=combined)
        main = combined_df.filter(F.col("_error").isNull()).drop("_record", "_error")
        errs = (
            combined_df.filter(F.col("_error").isNotNull())
            .select(F.col("_record").alias("record"), F.col("_error").alias("error"), F.lit(stage).alias("stage"))
        )
        total, stage_errs = self._merge_errors(errs)
        out = DynamicFrame(main, self.glue_ctx, self.name, errors_df=total, stage_errors_df=stage_errs)
        if stageThreshold or totalThreshold:
            out.assertErrorThreshold(stageThreshold, totalThreshold)
        return out

    def mapPartitions(self, f: Callable, transformation_ctx: str = "", info: str = "", schema=None) -> "DynamicFrame":
        """Partition-wise variant; callable receives an iterator of
        DynamicRecords (reference dynamicframe.py:117-119)."""
        import pandas as pd

        out_schema = schema or self._df.schema
        names = [fld.name for fld in out_schema.fields]

        def run(batches):
            for pdf in batches:
                recs = (DynamicRecord(r) for r in pdf.to_dict("records"))
                out = [dict(r) for r in f(recs)]
                yield pd.DataFrame(out, columns=names)

        return self._with_df(self._df.mapInPandas(run, schema=out_schema))

    def mapPartitionsWithIndex(self, f: Callable, transformation_ctx: str = "", schema=None) -> "DynamicFrame":
        import pandas as pd

        out_schema = schema or self._df.schema
        names = [fld.name for fld in out_schema.fields]

        def run(batches):
            from pyspark import TaskContext

            idx = TaskContext.get().partitionId()
            for pdf in batches:
                recs = (DynamicRecord(r) for r in pdf.to_dict("records"))
                out = [dict(r) for r in f(idx, recs)]
                yield pd.DataFrame(out, columns=names)

        return self._with_df(self._df.mapInPandas(run, schema=out_schema))

    def filter(
        self,
        f: Callable,
        transformation_ctx: str = "",
        info: str = "",
        stageThreshold: int = 0,
        totalThreshold: int = 0,
    ) -> "DynamicFrame":
        """Row predicate with the reference's exact exception policy
        (awsglue/dynamicframe.py:80-94): KeyError/ValueError/TypeError in
        the callable → row silently dropped; any other exception → row
        *kept* and marked as an error record."""
        import pandas as pd

        in_names = [fld.name for fld in self._df.schema.fields]
        combined = T.StructType(
            list(self._df.schema.fields)
            + [T.StructField("_record", T.StringType()), T.StructField("_error", T.StringType())]
        )
        stage = info or transformation_ctx or "filter"

        def run(batches):
            for pdf in batches:
                out_rows = []
                for rec in pdf.to_dict("records"):
                    try:
                        keep = bool(f(DynamicRecord(rec)))
                        if not keep:
                            continue
                        row = dict(rec)
                        row["_record"] = None
                        row["_error"] = None
                    except _FILTER_DROP_EXCEPTIONS:
                        continue  # silently dropped
                    except Exception as e:  # kept + marked as error
                        row = dict(rec)
                        row["_record"] = json.dumps(rec, default=str)
                        row["_error"] = f"{type(e).__name__}: {e}"
                    out_rows.append(row)
                yield pd.DataFrame(out_rows, columns=in_names + ["_record", "_error"])

        combined_df = self._df.mapInPandas(run, schema=combined)
        main = combined_df.drop("_record", "_error")
        errs = (
            combined_df.filter(F.col("_error").isNotNull())
            .select(F.col("_record").alias("record"), F.col("_error").alias("error"), F.lit(stage).alias("stage"))
        )
        total, stage_errs = self._merge_errors(errs)
        out = DynamicFrame(main, self.glue_ctx, self.name, errors_df=total, stage_errors_df=stage_errs)
        if stageThreshold or totalThreshold:
            out.assertErrorThreshold(stageThreshold, totalThreshold)
        return out

    # -- projections / field transforms (SURVEY.md §2.2) -------------------

    def _resolve_case(self, path: str, case_sensitive: bool) -> str:
        if case_sensitive:
            return path
        lower = {c.lower(): c for c in self._df.columns}
        head = path.split(".", 1)
        resolved = lower.get(head[0].lower(), head[0])
        return resolved if len(head) == 1 else f"{resolved}.{head[1]}"

    def select_fields(self, paths: str | list[str], transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """Keep listed (possibly nested dotted) paths; nested selections are
        aliased by their full dotted name (reference dynamicframe.py:203-217)."""
        paths = [paths] if isinstance(paths, str) else list(paths)
        cols = [F.col(p).alias(p) if "." in p else F.col(p) for p in paths]
        return self._with_df(self._df.select(*cols))

    def drop_fields(self, paths: str | list[str], transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """Drop listed paths; descends into structs but not through maps
        (reference dynamicframe.py:187-201, transforms/drop_nulls.py:33-34)."""
        paths = [paths] if isinstance(paths, str) else list(paths)
        df = self._df
        for p in paths:
            if "." not in p:
                df = df.drop(p)
            else:
                parent, leaf = p.rsplit(".", 1)
                top = parent.split(".", 1)[0]
                df = df.withColumn(top, F.col(top).dropFields(p.split(".", 1)[1]))
        return self._with_df(df)

    def rename_field(self, oldName: str, newName: str, transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """reference dynamicframe.py:271-282"""
        if "." not in oldName:
            return self._with_df(self._df.withColumnRenamed(oldName, newName))
        top, rest = oldName.split(".", 1)
        new_leaf = newName.split(".")[-1]
        # the renamed field must land beside the old one, at the same nesting
        # depth — withField takes a dotted path relative to `top`
        if "." in rest:
            new_path = f"{rest.rsplit('.', 1)[0]}.{new_leaf}"
        else:
            new_path = new_leaf
        df = self._df.withColumn(top, F.col(top).withField(new_path, F.col(oldName)).dropFields(rest))
        return self._with_df(df)

    def apply_mapping(
        self,
        mappings: list[tuple],
        case_sensitive: bool = False,
        transformation_ctx: str = "",
        info: str = "",
    ) -> "DynamicFrame":
        """Simultaneous project + rename + cast (reference
        dynamicframe.py:347-388).  Tuple forms: ``(src, dst)``,
        ``(src, dst, dstType)``, ``(src, srcType, dst, dstType)``.
        Lowers to one ``df.select`` so Catalyst sees plain casts."""
        cols = []
        for m in mappings:
            if len(m) == 2:
                src, dst, dst_type = m[0], m[1], None
            elif len(m) == 3:
                src, dst, dst_type = m[0], m[1], m[2]
            elif len(m) == 4:
                src, dst, dst_type = m[0], m[2], m[3]
            else:
                raise ValueError(f"mapping tuples must have 2-4 elements, got {m!r}")
            src = self._resolve_case(src, case_sensitive)
            c = F.col(src)
            if dst_type:
                c = c.cast(dst_type if isinstance(dst_type, str) else gt.to_spark_type(dst_type))
            cols.append(c.alias(dst))
        return self._with_df(self._df.select(*cols))

    applyMapping = apply_mapping

    def split_fields(self, paths: list[str], name1: str | None = None, name2: str | None = None,
                     transformation_ctx: str = "", info: str = "") -> "DynamicFrameCollection":
        """reference dynamicframe.py:219-236"""
        name1 = name1 or f"{self.name}1"
        name2 = name2 or f"{self.name}2"
        first = self.select_fields(paths)._with_df(self.select_fields(paths)._df, name=name1)
        rest_cols = [c for c in self._df.columns if c not in set(paths)]
        second = self._with_df(self._df.select(*rest_cols), name=name2)
        return DynamicFrameCollection({name1: first, name2: second}, self.glue_ctx)

    def split_rows(self, comparison_dict: dict, name1: str | None = None, name2: str | None = None,
                   transformation_ctx: str = "", info: str = "") -> "DynamicFrameCollection":
        """Predicate split into (match, rest); comparators like
        ``{"age": {">": 10, "<": 20}}`` (reference dynamicframe.py:238-269)."""
        name1 = name1 or f"{self.name}1"
        name2 = name2 or f"{self.name}2"
        pred = F.lit(True)
        ops = {
            ">": lambda c, v: c > v,
            "<": lambda c, v: c < v,
            ">=": lambda c, v: c >= v,
            "<=": lambda c, v: c <= v,
            "=": lambda c, v: c == v,
            "==": lambda c, v: c == v,
            "!=": lambda c, v: c != v,
        }
        for path, comps in comparison_dict.items():
            for op, val in comps.items():
                pred = pred & ops[op](F.col(path), val)
        # a NULL comparison must route the row to `rest`, not drop it from
        # both frames — coalesce the three-valued predicate to False
        pred = F.coalesce(pred, F.lit(False))
        match = self._with_df(self._df.filter(pred), name=name1)
        rest = self._with_df(self._df.filter(~pred), name=name2)
        return DynamicFrameCollection({name1: match, name2: rest}, self.glue_ctx)

    # -- joins / set ops (SURVEY.md §2.3, §2.7) ----------------------------

    def join(self, paths1: list[str], paths2: list[str], frame2: "DynamicFrame",
             transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """Equi inner join; key lists zip pairwise (reference
        dynamicframe.py:302-308).  Right-side columns colliding with left
        names are renamed ``<col>_2`` so the result is addressable."""
        paths1 = [paths1] if isinstance(paths1, str) else list(paths1)
        paths2 = [paths2] if isinstance(paths2, str) else list(paths2)
        left, right = self._df, frame2._df
        renames = {c: f"{c}_2" for c in right.columns if c in set(left.columns)}
        for old, new in renames.items():
            right = right.withColumnRenamed(old, new)
        cond = None
        for a, b in zip(paths1, paths2):
            b = renames.get(b, b)
            piece = left[a] == right[b]
            cond = piece if cond is None else (cond & piece)
        return self._with_df(left.join(right, cond, "inner"))

    def union(self, other: "DynamicFrame", transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """Schema-drift-tolerant union (reference dynamicframe.py:463-475;
        the reference's *transform* wrapper is buggy — SURVEY.md §8.7 — the
        DynamicFrame method is the real contract).  Columns missing on one
        side are null-filled; columns whose types conflict fuse into
        choice-structs per the mergeDataTypes algebra."""
        left_schema = self.schema()
        right_schema = other.schema()
        merged = gt.mergeDataTypes(left_schema, right_schema)
        a, choices_a = _conform_df(self._df, left_schema, merged)
        b, choices_b = _conform_df(other._df, right_schema, merged)
        choices = {**choices_a, **choices_b}
        errs = None
        if self._errors_df is not None or other._errors_df is not None:
            errs = self._errors().unionByName(other._errors())
        return DynamicFrame(a.unionByName(b), self.glue_ctx, self.name, errors_df=errs, choices=choices)

    def mergeDynamicFrame(self, stage_dynamic_frame: "DynamicFrame", primary_keys: list[str],
                          transformation_ctx: str = "", options: dict | None = None,
                          info: str = "") -> "DynamicFrame":
        """PK-based upsert (reference dynamicframe.py:436-461): staging rows
        overwrite source rows with matching PKs; unmatched source rows —
        including duplicates — are retained; nothing is de-duplicated.

        Lowered to ``source LEFT ANTI JOIN staging-keys  UNION ALL staging``
        — at scale the anti join shuffles once on the PK and the union is
        free; with Delta/Iceberg this becomes MERGE INTO.
        """
        primary_keys = [primary_keys] if isinstance(primary_keys, str) else list(primary_keys)
        stage_df = stage_dynamic_frame._df
        keys = stage_df.select(*primary_keys).distinct()
        kept = self._df.join(keys, on=primary_keys, how="left_anti")
        return self._with_df(kept.unionByName(stage_df, allowMissingColumns=True))

    # -- sampling / side writes (SURVEY.md §2.6) ---------------------------

    def spigot(self, path: str, options: dict | None = None, transformation_ctx: str = "") -> "DynamicFrame":
        """Write a sample mid-pipeline and pass the frame through unchanged
        (reference dynamicframe.py:296-300; options ``topk`` / ``prob``,
        field_transforms.py:452)."""
        options = options or {}
        if "topk" in options:
            sample = self._df.limit(int(options["topk"]))
        elif "prob" in options:
            sample = self._df.sample(fraction=float(options["prob"]), seed=42)
        else:
            sample = self._df.limit(100)
        sample.write.mode("overwrite").json(path)
        return self

    # -- nested restructuring (SURVEY.md §2.9) -----------------------------

    def unbox(self, path: str, format: str, transformation_ctx: str = "", info: str = "",
              schema: T.StructType | str | None = None, **options) -> "DynamicFrame":
        """Parse a string column as json/csv/avro into a nested value
        (reference dynamicframe.py:162-185).  JSON schema is inferred from
        a driver-side sample when not supplied (documented extra pass)."""
        fmt = format.lower()
        if fmt == "json":
            if schema is None:
                sample = [r[0] for r in self._df.select(path).dropna().limit(1000).collect()]
                if not sample:
                    raise ValueError(f"cannot infer JSON schema for empty column {path}")
                schema = self.spark.read.json(self.spark.sparkContext.parallelize(sample)).schema
            df = self._df.withColumn(path, F.from_json(F.col(path), schema))
        elif fmt == "csv":
            sep = options.get("separator", ",")
            if schema is None:
                first = self._df.select(path).dropna().first()
                if first is None:
                    raise ValueError(f"cannot infer CSV schema for empty column {path}")
                n = len(first[0].split(sep))
                schema = ", ".join(f"col{i} STRING" for i in range(n))
            df = self._df.withColumn(path, F.from_csv(F.col(path), schema, {"sep": sep}))
        elif fmt == "avro":
            if schema is None:
                raise ValueError("avro unbox requires an explicit jsonFormatSchema")
            # Prefer the JVM expression when the spark-avro package is on
            # the classpath (codegen, zero Python); the bundled pyspark
            # distribution omits that jar, so fall back to the in-repo
            # Arrow-batched pure-Python datum decoder (sources/avro.py)
            # — same jsonFormatSchema contract, same NULL-on-malformed
            # policy as the json/csv paths.
            df = None
            try:
                from pyspark.sql.avro.functions import from_avro
                df = self._df.withColumn(path, from_avro(F.col(path), schema))
                df.schema  # forces expression resolution (jar gate)
            except Exception as e:
                if "AVRO_NOT_LOADED" not in str(e):
                    raise
                df = None
            if df is None:
                from aws_etl_bank_spark.sources.avro import from_avro_datum
                # fallback parity with the JVM withColumn path: keep the
                # unboxed column in its ORIGINAL position (from_avro_datum
                # appends it after the passthrough columns).  Divergence
                # note (documented, r9 ADVICE): this path NULLs malformed
                # payloads (PERMISSIVE) while the JVM from_avro default is
                # FAILFAST — same permissive policy as the json/csv unbox
                # paths, preferred here for cross-path consistency.
                df = (from_avro_datum(self._df, path, schema, out_col=path)
                      .select(*self._df.columns))
        else:
            raise ValueError(f"unbox: unsupported format {format!r}")
        return self._with_df(df)

    def unnest(self, transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """Flatten nested structs to top-level dotted columns; arrays and
        maps are kept as-is (reference dynamicframe.py:310-322)."""
        cols = _flatten_struct_cols(self._df.schema)
        return self._with_df(self._df.select(*cols))

    def unnest_ddb_json(self, transformation_ctx: str = "", info: str = "") -> "DynamicFrame":
        """Unwrap DynamoDB JSON type-wrappers — structs whose only fields
        are type tags like S/N/BOOL/M/L (reference dynamicframe.py:390-392)."""
        df = self._df
        out_cols = []
        for fld in df.schema.fields:
            out_cols.append(_unwrap_ddb(F.col(fld.name), fld.dataType).alias(fld.name))
        return self._with_df(df.select(*out_cols))

    def relationalize(self, root_table_name: str, staging_path: str | None = None,
                      options: dict | None = None, transformation_ctx: str = "", info: str = "",
                      key_cols: list[str] | None = None) -> "DynamicFrameCollection":
        """Flatten structs and pivot each array column into its own child
        table linked by a joinkey (reference dynamicframe.py:324-345).

        Spark-first: no CSV staging round-trip — children are DataFrames
        built with ``posexplode``.  ``key_cols`` makes joinkeys
        deterministic (retry-safe); otherwise a synthetic ``id`` from
        ``monotonically_increasing_id`` is used, matching the reference's
        generated-joinkey behavior.
        """
        frames: dict[str, DynamicFrame] = {}
        root_df = self._df.select(*_flatten_struct_cols(self._df.schema))
        array_cols = [f.name for f in root_df.schema.fields if isinstance(f.dataType, T.ArrayType)]
        if array_cols and not key_cols:
            root_df = root_df.withColumn("id", F.monotonically_increasing_id())
            key_cols = ["id"]
        for col in array_cols:
            child = root_df.select(*key_cols, F.posexplode_outer(F.col(col)).alias("index", "val"))
            child_flat_cols = []
            for fld in child.schema.fields:
                if fld.name == "val" and isinstance(fld.dataType, T.StructType):
                    child_flat_cols.extend(
                        F.col(f"val.{sub.name}").alias(f"val.{sub.name}") for sub in fld.dataType.fields
                    )
                else:
                    child_flat_cols.append(F.col(fld.name))
            child = child.select(*child_flat_cols)
            frames[f"{root_table_name}_{col}"] = DynamicFrame(child, self.glue_ctx, f"{root_table_name}_{col}")
            root_df = root_df.drop(col)
        frames[root_table_name] = DynamicFrame(root_df, self.glue_ctx, root_table_name)
        return DynamicFrameCollection(frames, self.glue_ctx)

    # -- choice resolution (SURVEY.md §2.9) --------------------------------

    def resolveChoice(self, specs: list[tuple[str, str]] | None = None, choice: str = "",
                      database: str | None = None, table_name: str | None = None,
                      transformation_ctx: str = "", info: str = "",
                      catalog: "object | None" = None) -> "DynamicFrame":
        """Resolve ChoiceType columns (reference dynamicframe.py:394-434).

        Actions: ``cast:<type>``, ``project:<type>``, ``make_struct``,
        ``make_cols``.  A frame-wide default ``choice`` applies to every
        choice column; ``MATCH_CATALOG`` aligns each to the catalog table's
        declared type.
        """
        df = self._df
        choices = dict(self._choices)
        if specs is None:
            specs = []
        if not specs and choice:
            if choice == "MATCH_CATALOG":
                cat = catalog or (self.glue_ctx.catalog if self.glue_ctx is not None else None)
                if cat is None:
                    raise ValueError("MATCH_CATALOG requires a catalog")
                target_schema = cat.get_table(database, table_name).spark_schema()
                by_name = {f.name: f.dataType for f in target_schema.fields}
                specs = [(c, f"cast:{gt.from_spark_type(by_name[c]).typeName()}") for c in choices if c in by_name]
            else:
                specs = [(c, choice) for c in choices]
        for path, action in specs:
            if path not in choices:
                continue  # not a choice column — no-op, mirrors reference tolerance
            variants = choices[path].keys()
            if action.startswith("cast:"):
                target = action.split(":", 1)[1]
                spark_t = gt.to_spark_type(gt.TYPE_BY_NAME[target]())
                df = df.withColumn(path, F.coalesce(*[F.col(f"`{path}`.`{k}`").cast(spark_t) for k in variants]))
                del choices[path]
            elif action.startswith("project:"):
                target = action.split(":", 1)[1]
                if target not in variants:
                    df = df.withColumn(path, F.lit(None).cast(gt.to_spark_type(gt.TYPE_BY_NAME[target]())))
                else:
                    df = df.withColumn(path, F.col(f"`{path}`.`{target}`"))
                del choices[path]
            elif action == "make_struct":
                del choices[path]  # physical encoding already is the struct
            elif action == "make_cols":
                for k in variants:
                    df = df.withColumn(f"{path}_{k}", F.col(f"`{path}`.`{k}`"))
                df = df.drop(path)
                del choices[path]
            else:
                raise ValueError(f"resolveChoice: unknown action {action!r}")
        return DynamicFrame(df, self.glue_ctx, self.name, errors_df=self._errors_df,
                            stage_errors_df=self._stage_errors_df, choices=choices)

    # -- write-through -----------------------------------------------------

    def write(self, connection_type: str, connection_options: dict | None = None,
              format: str | None = None, format_options: dict | None = None,
              accumulator_size: int = 0) -> "DynamicFrame":
        """reference dynamicframe.py (write → getSink → writeFrame); returns
        the errors frame per data_sink.py:31-32."""
        if self.glue_ctx is None:
            raise ValueError("write requires a glue_ctx (EngineContext)")
        return self.glue_ctx.write_dynamic_frame_from_options(
            frame=self, connection_type=connection_type,
            connection_options=connection_options or {},
            format=format, format_options=format_options or {},
        )


# ---------------------------------------------------------------------------
# Choice-struct conformance helpers
# ---------------------------------------------------------------------------


def _conform_df(df: DataFrame, current: gt.StructType, merged: gt.StructType):
    """Project ``df`` (described by ``current``) onto the merged schema:
    missing columns null-filled, conflicted columns lifted into
    choice-structs.  Returns (df, {col: ChoiceType})."""
    cur_map = current.field_map()
    cols = []
    choices: dict[str, gt.ChoiceType] = {}
    for fld in merged.fields:
        target_t = fld.dataType
        if isinstance(target_t, gt.ChoiceType):
            choices[fld.name] = target_t
        if fld.name not in cur_map:
            cols.append(F.lit(None).cast(gt.to_spark_type(target_t)).alias(fld.name))
            continue
        cur_t = cur_map[fld.name].dataType
        cols.append(_conform_col(F.col(f"`{fld.name}`"), cur_t, target_t).alias(fld.name))
    return df.select(*cols), choices


def _conform_col(col, cur_t: gt.DataType, target_t: gt.DataType):
    if isinstance(target_t, gt.ChoiceType):
        parts = []
        cur_variants = cur_t.choices if isinstance(cur_t, gt.ChoiceType) else {cur_t.typeName(): cur_t}
        for key, vt in sorted(target_t.choices.items()):
            if key in cur_variants:
                inner = col[key] if isinstance(cur_t, gt.ChoiceType) else col
                parts.append(inner.alias(key))
            else:
                parts.append(F.lit(None).cast(gt.to_spark_type(vt)).alias(key))
        return F.struct(*parts)
    if isinstance(target_t, gt.StructType) and isinstance(cur_t, gt.StructType):
        cur_map = cur_t.field_map()
        parts = []
        for f in target_t.fields:
            if f.name in cur_map:
                parts.append(_conform_col(col[f.name], cur_map[f.name].dataType, f.dataType).alias(f.name))
            else:
                parts.append(F.lit(None).cast(gt.to_spark_type(f.dataType)).alias(f.name))
        return F.struct(*parts)
    return col


def _flatten_struct_cols(schema: T.StructType, prefix: str = ""):
    """Recursive dotted-column flattening for unnest/relationalize."""
    cols = []
    for fld in schema.fields:
        name = f"{prefix}{fld.name}"
        if isinstance(fld.dataType, T.StructType):
            cols.extend(_flatten_struct_cols(fld.dataType, prefix=f"{name}."))
        else:
            cols.append(F.col(f"`{name}`" if "." not in name else name).alias(name))
    return cols


_DDB_TAGS = {"S", "N", "B", "BOOL", "NULL", "L", "M", "SS", "NS", "BS"}


def _unwrap_ddb(col, dtype: T.DataType):
    if isinstance(dtype, T.StructType) and dtype.fieldNames() and set(dtype.fieldNames()) <= _DDB_TAGS:
        tags = dtype.fieldNames()
        if "S" in tags:
            return col["S"]
        if "N" in tags:
            return col["N"].cast("double")
        if "BOOL" in tags:
            return col["BOOL"]
        if "NULL" in tags:
            return F.lit(None)
        if "M" in tags:
            inner = dtype["M"].dataType
            return _unwrap_ddb(col["M"], inner)
        if "L" in tags:
            elem = dtype["L"].dataType.elementType
            return F.transform(col["L"], lambda x: _unwrap_ddb(x, elem))
        if "SS" in tags:
            return col["SS"]
        if "NS" in tags:
            return F.transform(col["NS"], lambda x: x.cast("double"))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_unwrap_ddb(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


class DynamicFrameCollection:
    """Named dict of frames — result of multi-output transforms
    (reference dynamicframe.py:522-593)."""

    def __init__(self, dynamic_frames: dict[str, DynamicFrame], glue_ctx=None):
        self._frames = dict(dynamic_frames)
        self.glue_ctx = glue_ctx

    def __len__(self):
        return len(self._frames)

    def __getitem__(self, key):
        return self._frames[key]

    def __iter__(self):
        return iter(self._frames.items())

    def keys(self):
        return self._frames.keys()

    def values(self):
        return self._frames.values()

    def select(self, key: str, transformation_ctx: str = "") -> DynamicFrame:
        """Missing key → empty frame (reference dynamicframe.py:553-556)."""
        if key in self._frames:
            return self._frames[key]
        spark = next(iter(self._frames.values())).spark if self._frames else SparkSession.getActiveSession()
        return DynamicFrame(local_frame(spark, [], T.StructType([])), self.glue_ctx, key)

    def map(self, callable_: Callable, transformation_ctx: str = "") -> "DynamicFrameCollection":
        return DynamicFrameCollection(
            {k: callable_(v, transformation_ctx) for k, v in self._frames.items()}, self.glue_ctx
        )

    def flatmap(self, f: Callable, transformation_ctx: str = "") -> "DynamicFrameCollection":
        out: dict[str, DynamicFrame] = {}
        for _, v in self._frames.items():
            res = f(v)
            if isinstance(res, DynamicFrameCollection):
                out.update(dict(res._frames))
            else:
                out[res.name] = res
        return DynamicFrameCollection(out, self.glue_ctx)
