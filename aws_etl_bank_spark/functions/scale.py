"""Explicit scale tools: key salting and bucketed co-located joins.

AQE's skew-join splitting (on by default in `session.py`) handles most
skew at runtime; these helpers are for the cases where you know the skew
or the join pattern ahead of time and want it structural:

- **Salting** — a hot grouping/join key (one customer with 1% of a
  100 TB fact) caps at `n_salts`-way parallelism instead of one straggler
  task: aggregate in two phases (salted partial → final), or explode the
  small side of a join across every salt.
- **Bucketing** — both sides of a recurring fact⋈fact join written
  bucketed by the join key join WITHOUT a shuffle on every query; the
  shuffle is paid once at write time.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from aws_etl_bank_spark.session import local_frame


def with_salt(df: DataFrame, n_salts: int = 16, salt_col: str = "_salt",
              deterministic_by: str | Column | None = None) -> DataFrame:
    """Add a salt column in [0, n_salts), derived deterministically.

    By default the salt hashes EVERY column, so it is a pure function of
    row content: a task retry or stage replay re-derives the same salt
    and rows never misroute mid-join (monotonically_increasing_id-style
    salts change across retries and can silently drop/duplicate rows in
    a salted join).  Identical rows share a salt — acceptable, since only
    full-row duplicates re-concentrate; if the hot key's rows ARE
    identical (e.g. a narrow projection of a sentinel key), pass
    ``deterministic_by`` with a genuinely distinguishing column — a
    content-derived salt cannot spread rows it cannot tell apart.
    MapType columns are excluded from the default hash (xxhash64 rejects
    maps); if every column is a map, ``deterministic_by`` is required."""
    if deterministic_by is not None:
        col = F.col(deterministic_by) if isinstance(deterministic_by, str) else deterministic_by
        salt = F.pmod(F.xxhash64(col), F.lit(n_salts))
    else:
        hashable = [f.name for f in df.schema.fields
                    if not _contains_map(f.dataType)]
        if not hashable:
            raise ValueError(
                "with_salt: every column contains MapType (unhashable); "
                "pass deterministic_by=<column> instead")
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salts))
    return df.withColumn(salt_col, salt.cast("int"))


def _reduce_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _contains_map(dt) -> bool:
    """True if the type tree contains a MapType anywhere (xxhash64 cannot
    hash maps)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def salted_agg(df: DataFrame, keys: list[str], aggs: list[Column],
               partials: list[Column], n_salts: int = 16,
               salt_by: str | None = None) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys.

    ``partials`` aggregate within (keys, salt) — at most ``n_salts`` rows
    per hot key survive the first shuffle; ``aggs`` combine the partials
    (they see the partial columns by name).  Example::

        salted_agg(fact, ["cust_id"],
                   partials=[F.sum("amount").alias("amt"),
                             F.count(F.lit(1)).alias("cnt")],
                   aggs=[F.sum("amt").alias("total"),
                         F.sum("cnt").alias("n")])
    """
    salted = with_salt(df, n_salts, deterministic_by=salt_by)
    partial = salted.groupBy(*keys, "_salt").agg(*partials)
    return partial.groupBy(*keys).agg(*aggs)


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 16) -> DataFrame:
    """Skew-proof equi-join: the big side gets a random salt per row; the
    small side is exploded across ALL salts, so each (key, salt) shard of
    a hot key lands in its own task.  Small side grows n_salts× — use for
    dimension-sized right sides when a hot key defeats even AQE (e.g. one
    null-like sentinel key holding 10% of the fact)."""
    b = with_salt(big, n_salts, deterministic_by=None)
    s = small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    out = b.join(s, [key, "_salt"])
    return out.drop("_salt")


def write_bucketed(df: DataFrame, table: str,
                   bucket_col: str | list[str], n_buckets: int = 32,
                   sort_col: str | list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist bucketed (and optionally sorted) by the join key: every
    later equi-join or aggregation on ``bucket_col`` between tables with
    the same bucket count is shuffle-free (and sort-free when sorted).
    The shuffle is paid once here instead of on every downstream query.
    ``bucket_col``/``sort_col`` accept a list for COMPOSITE join keys
    (r16): a table bucketed on a strict subset of the join keys does
    not qualify for exchange elimination, so e.g. the MinHash band
    index must be bucketed on BOTH (band, band_hash) for the
    incremental-dedup join to leave the index side shuffle-free
    (pinned in tests/test_scale.py).

    Self-healing against orphaned warehouse paths: with the in-memory
    catalog, a managed-table DIRECTORY can outlive the session that
    registered it — the fresh session's catalog has no such table, so
    even ``mode=overwrite`` refuses to create over the leftover path.
    The leftover is renamed ASIDE (never rmtree'd in place): a
    concurrent session that still holds the directory open — this
    session's catalog cannot see another session's registration, so
    "no catalog entry" does not prove "garbage" — keeps its open file
    handles across the rename on POSIX, and the data stays recoverable
    until the new table commits, at which point the aside is dropped.
    The path is derived per the catalog's location rules (default-db
    tables at ``wh/tbl``; qualified ``db.tbl`` at ``wh/db.db/tbl``), so
    healing no longer silently no-ops on qualified names."""
    import os
    import shutil
    import uuid
    from urllib.parse import urlparse

    spark = df.sparkSession
    aside = None
    if not spark.catalog.tableExists(table):
        stale = _managed_table_path(spark, table)
        if os.path.exists(stale):
            aside = f"{stale}.__stale__{uuid.uuid4().hex[:8]}"
            os.rename(stale, aside)
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    w = (df.write.format("parquet").mode(mode)
         .bucketBy(n_buckets, bcols[0], *bcols[1:]))
    if sort_col is not None:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        w = w.sortBy(scols[0], *scols[1:])
    w.saveAsTable(table)
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)


def _managed_table_path(spark: SparkSession, table: str) -> str:
    """Filesystem location of a managed table per the warehouse layout:
    ``wh/<tbl>`` for the default database, ``wh/<db>.db/<tbl>`` for any
    other — mirroring Spark's SessionCatalog.defaultTablePath.  Accepts
    ``tbl``, ``db.tbl`` and ``catalog.db.tbl`` forms."""
    import os
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    parts = table.split(".")
    if len(parts) == 3:
        parts = parts[1:]  # strip the catalog qualifier
    if len(parts) == 2:
        db, tbl = parts
    elif len(parts) == 1:
        db, tbl = "default", parts[0]
    else:
        raise ValueError(f"unparseable table name: {table!r}")
    if db.lower() == "default":
        return os.path.join(wh, tbl.lower())
    return os.path.join(wh, f"{db.lower()}.db", tbl.lower())


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def sf_table_tag(sf_dir: str) -> str:
    """Sanitize an sf_dir basename into a table-identifier suffix
    (robust to any non-alphanumeric character, not just dots — an
    'sf0.01-alt' dir must not produce an invalid identifier)."""
    import os
    import re

    return re.sub(r"[^0-9a-zA-Z]", "_",
                  os.path.basename(os.path.normpath(sf_dir)))


def reset_and_write_bucketed(spark: SparkSession, df: DataFrame,
                             table: str, bucket_col: str,
                             n_buckets: int,
                             sort_col: str | None = None) -> None:
    """Self-resetting bucketed-table create shared by the registry's
    bucketed entries: DROP the catalog entry AND clear any stale
    warehouse directory first — a fresh session's in-memory catalog
    does not know the table, so a bare saveAsTable would trip over the
    location left by a previous session's run — then write_bucketed."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = _strip_file_scheme(spark.conf.get("spark.sql.warehouse.dir"))
    shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
    write_bucketed(df, table, bucket_col, n_buckets=n_buckets,
                   sort_col=sort_col)


def widen_if_underscanned(df: DataFrame, *keys: str | Column,
                          probe: DataFrame | None = None) -> DataFrame:
    """Pre-partition ``df`` on ``keys`` ONLY when the source provides
    fewer splits than cores.

    Parquet cannot split below row-group grain, so a compact file caps
    scan parallelism (3 row groups → 3 tasks) and any heavy map-side
    work stacked on the scan — partial aggregation with
    COUNT(DISTINCT) expand, collect_set buffers — runs on a handful of
    fat tasks.  Partitioning on the downstream GROUP BY keys lets the
    aggregate reuse the exchange (no second shuffle).  When the scan
    already has splits >= cores (any realistic multi-file table, and
    everything at 100 TB), this returns ``df`` unchanged: an
    unconditional raw-row shuffle would defeat map-side partial
    aggregation and regress at scale.

    ``probe`` (default ``df``) is the frame whose scan width is
    inspected.  Pass the bare scan when ``df`` carries joins: the probe
    reads only file metadata (``inputFiles`` + sizes), never runs a job.
    The estimate ``sum(ceil(size / maxPartitionBytes))`` is an UPPER
    bound on scan tasks (Spark packs small files and row-group grain
    caps splits further), so ``estimate < cores`` proves under-scan;
    non-file sources fall back to ``rdd.getNumPartitions()``.

    Idempotent under composition: if ``df``'s plan already carries a
    shuffle repartition — keyed (``RepartitionByExpression``) or
    round-robin (``Repartition n, true``; ours from an inner widened
    operator, or the caller's own choice) — the frame is returned
    unchanged: no stacked re-shuffles when widened operators compose
    (e.g. quality_score over language_id).  A plain ``coalesce``
    (``Repartition n, false``) does NOT suppress the widen: a collapsed
    narrow scan is exactly the shape this helper exists to fix.  The
    decision looks at the TOPMOST repartition-family node (a coalesce
    stacked over a repartition re-narrows the frame, so the widen must
    still fire), and only when the file-based estimate already proved
    under-scan — the at-scale fast path never renders the plan."""
    import math
    import os

    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    src = probe if probe is not None else df
    try:
        files = [_strip_file_scheme(f) for f in src.inputFiles()]
        if not files:  # in-memory/non-file frame: no metadata to reason from
            raise ValueError("no input files")
        mpb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        est = sum(math.ceil(os.path.getsize(f) / mpb) for f in files)
    except Exception:
        est = src.rdd.getNumPartitions()
    if est >= cores:
        return df
    if _plan_already_widened(df._jdf.queryExecution().analyzed().toString()):
        return df
    return df.repartition(cores, *keys)


#: Matches a repartition-family node at the START of an analyzed-plan tree
#: line (after the ``:  +-`` tree-drawing prefix) — never a string literal
#: rendered mid-line inside a Filter or similar.
_REPART_NODE = re.compile(
    r"^[\s:+-]*(?:RepartitionByExpression|Repartition \d+, (true|false))")


def _plan_already_widened(plan: str) -> bool:
    """True if the topmost repartition-family node in the analyzed plan is
    a shuffle (keyed or round-robin); False when there is none or the
    topmost is a coalesce (shuffle=false), which re-narrows whatever sits
    below it.  Top-down first-match is a heuristic for multi-branch
    plans, exact for the linear operator chains this guards."""
    for line in plan.splitlines():
        m = _REPART_NODE.match(line)
        if m:
            return m.group(1) != "false"  # None (keyed) or 'true' → shuffle
    return False


def _strip_file_scheme(path: str) -> str:
    """Remove a leading file: URI scheme only (never mid-path text)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


_BYTE_SUFFIXES = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
                  "p": 1 << 50, "b": 1}


def _parse_bytes(s: str) -> int:
    """Parse a Spark byte-string conf value ('134217728', '134217728b',
    '128m', '1g', '128MB', ...)."""
    v = s.strip().lower()
    mult = 1
    if v.endswith("b") and not v[:-1].isdigit():
        v = v[:-1]  # strip the 'b' of kb/mb/gb
    if v and v[-1] in _BYTE_SUFFIXES:
        mult = _BYTE_SUFFIXES[v[-1]]
        v = v[:-1]
    return int(v) * mult


def write_range_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                          n_files: int | None = None) -> None:
    """Write parquet laid out for data skipping on ``cluster_cols``:
    repartitionByRange + sortWithinPartitions, so each output file covers
    a narrow, non-overlapping key range and its parquet min/max footer
    stats prune whole files for range predicates — the poor man's
    Z-order for single-dimension (or prefix-ordered) access patterns.

    At 100 TB this is the difference between a range scan touching a few
    files and touching all of them; the range exchange samples the key
    distribution, so skew produces uneven file sizes rather than wrong
    pruning.  ``n_files`` defaults to the current parallelism."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite").parquet(path)
    )


def zorder_key(scaled_cols: list[Column], bits: int) -> Column:
    """Bit-interleave ``scaled_cols`` (each already an integer in
    ``[0, 2**bits)``) into one Z-value: bit ``b`` of column ``i`` lands
    at position ``b * n_cols + i``.  Pure shift/and/or arithmetic — the
    whole key stays inside whole-stage codegen (the Python loop builds a
    constant-folded expression tree, it does not run per row)."""
    n = len(scaled_cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(scaled_cols):
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i))
    return z


def write_zorder_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                           bits: int = 12, n_files: int | None = None) -> None:
    """Write parquet laid out for MULTI-dimension data skipping on
    ``cluster_cols`` — the Z-order analogue of ``write_range_clustered``
    (which is optimal for one dimension but makes every non-prefix
    column's per-file min/max span the full domain).  Each numeric
    column is min-max scaled into ``2**bits`` cells (the min/max row
    crosses as a one-row broadcast, never a driver scalar), the cell
    ids are bit-interleaved into a Z-value, and the frame is range-
    partitioned + sorted on it: files then cover small axis-aligned
    boxes of the key space, so parquet footer stats prune files for
    predicates on ANY clustered column, not just the first.

    Two scans of the input by design (stats pass + layout pass) — the
    same shape Delta's OPTIMIZE ZORDER pays.  Min-max scaling keeps the
    key engine-reproducible and cheap; under heavy per-column skew the
    production upgrade is rank-based cell boundaries (percentile_approx
    cut points broadcast the same way), which changes only the scaling
    expression, not the layout machinery."""
    if not cluster_cols:
        raise ValueError("cluster_cols must be non-empty")
    if not 1 <= bits * len(cluster_cols) <= 63:
        raise ValueError("bits * n_cols must fit in a signed long")
    stats = df.agg(*[f(c).cast("double").alias(f"__{tag}_{i}")
                     for i, c in enumerate(cluster_cols)
                     for tag, f in (("mn", F.min), ("mx", F.max))])
    cells = F.lit(float(2 ** bits))
    scaled = []
    for i, c in enumerate(cluster_cols):
        mn, mx = F.col(f"__mn_{i}"), F.col(f"__mx_{i}")
        frac = (F.col(c).cast("double") - mn) / F.nullif(mx - mn, F.lit(0.0))
        cell = F.least(F.floor(F.coalesce(frac, F.lit(0.0)) * cells),
                       cells.cast("long") - 1)
        scaled.append(F.greatest(cell, F.lit(0)).cast("long"))
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.crossJoin(F.broadcast(stats))
        .withColumn("__z", zorder_key(scaled, bits))
        .select(*df.columns, "__z")
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    )


def bloom_bitmap(keys: DataFrame, key: str, m_bits: int = 1 << 17,
                 n_hashes: int = 5) -> DataFrame:
    """Build a Bloom filter over ``keys[key]`` as ONE row holding a
    sparse bitmap ``map<long, long>`` (word index → 64-bit word).

    Spark's ``bloom_filter_agg`` expression is not in the public function
    registry, so this is the same structure from built-ins only, fully
    JVM-side: each key sets ``n_hashes`` bit positions
    ``pmod(xxhash64(key, seed), m_bits)``; positions are grouped by
    64-bit word and OR-ed (`bit_or`), then collected into a single map.

    Size is bounded by the BITMAP, not the key count: at most
    ``m_bits / 64`` map entries (2048 longs ≈ 32 KiB at the default) no
    matter how many billions of keys went in — that is the point at
    100 TB, where the distinct-key set itself is too big to broadcast but
    the bitmap always fits.  The build is one partial-aggregated
    hash-agg over the key side."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos_arr = F.array(*[
        F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(m_bits))
        for s in range(n_hashes)
    ])
    return (
        keys.select(F.explode(pos_arr).alias("__pos"))
        .groupBy(F.floor(F.col("__pos") / 64).alias("__w"))
        .agg(F.bit_or(F.call_function(
            "shiftleft", F.lit(1).cast("long"),
            (F.col("__pos") % 64).cast("int"))).alias("__bits"))
        .agg(F.map_from_entries(
            F.collect_list(F.struct("__w", "__bits"))).alias("__bloom"))
    )


def bloom_might_contain(bloom_col: Column, probe: Column, m_bits: int = 1 << 17,
                        n_hashes: int = 5) -> Column:
    """Membership test against a ``bloom_bitmap`` map column: true iff
    every hash position's bit is set.  No false negatives; false-positive
    rate ~ (1 - e^{-kn/m})^k.  Pure Catalyst (map lookup + shift)."""
    checks = []
    for s in range(n_hashes):
        pos = F.pmod(F.xxhash64(probe, F.lit(s)), F.lit(m_bits))
        word = F.element_at(bloom_col, F.floor(pos / 64))
        mask = F.call_function("shiftleft", F.lit(1).cast("long"),
                               (pos % 64).cast("int"))
        checks.append(word.isNotNull() & (word.bitwiseAND(mask) != 0))
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_prefilter_join(fact: DataFrame, dim: DataFrame, fact_key: str,
                         dim_key: str, m_bits: int = 1 << 17,
                         n_hashes: int = 5, how: str = "inner") -> DataFrame:
    """Equi-join with an explicit Bloom runtime filter on the fact side:
    build the bitmap over ``dim[dim_key]``, broadcast it (one row),
    drop fact rows that cannot match BEFORE the join shuffle, then run
    the exact join — so false positives cost nothing and the result is
    identical to ``fact.join(dim, ...)``.

    This is Spark's runtime row-level bloom filtering
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) made explicit
    and available on any plan shape: at 100 TB, a selective dim prunes
    the fact's shuffle write by the dim's selectivity — the dominant cost
    of a large join — for one broadcast of a ≤32 KiB bitmap.  When the
    dim is small enough to broadcast-join outright the optimizer already
    avoids the shuffle; the bloom path wins when the dim is
    broadcast-too-big but its BITMAP is not."""
    if how not in ("inner", "leftsemi", "left_semi", "semi", "right"):
        # the prefilter DROPS fact rows with no dim match, which is
        # exactly what left/full outer joins must keep — refuse loudly
        raise ValueError(
            f"bloom_prefilter_join supports inner/leftsemi/right, not {how!r}: "
            "a fact-side prefilter discards the unmatched fact rows an outer "
            "join preserves")
    bf = bloom_bitmap(dim, dim_key, m_bits, n_hashes)
    pruned = (
        fact.crossJoin(F.broadcast(bf))
        .where(bloom_might_contain(F.col("__bloom"), F.col(fact_key),
                                   m_bits, n_hashes))
        .drop("__bloom")
    )
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)


def compact_small_files(spark: SparkSession, path: str,
                        target_file_bytes: int = 128 * 1024 * 1024,
                        sort_within: list[str] | None = None) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files —
    the table-maintenance pass that keeps a streaming/incremental sink's
    small-file count from poisoning every downstream scan (each file
    costs a task + footer read; 10k tiny files turn a 1-second scan into
    a scheduler stall).

    File count = ceil(current_bytes / target), coalesce (no shuffle)
    unless ``sort_within`` asks for a sortWithinPartitions pass to
    restore min/max pruning locality.  Writes to a sibling temp dir and
    swaps via two renames.  Each rename is atomic, but the PAIR is not:
    a reader that lists ``path`` in the instant between them gets
    FileNotFound (retry-once is the reader contract on a maintained
    dataset; a table format with a commit log removes even that window
    — out of scope here).  Crash safety: a run that dies between the
    renames leaves the data intact in ``.__compact_old__``, and the
    next call RESTORES it to ``path`` before compacting (old is only
    disposable when ``path`` itself exists — i.e. the swap completed).
    Returns the new file count."""
    import math
    import os
    import shutil

    tmp = path.rstrip("/") + ".__compact_tmp__"
    old = path.rstrip("/") + ".__compact_old__"
    # crash recovery BEFORE reading: a previous run that died mid-swap
    # left path missing and the data in old — put it back.  tmp was
    # never swapped in and is always disposable; old is disposable only
    # once path exists again.
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    for leftover in (tmp, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    out = df.coalesce(n)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def skew_report(df: DataFrame, *keys: str, top: int = 10) -> DataFrame:
    """Per-key skew diagnostics — the measurement that decides between
    plain AQE, ``salted_agg``, and ``salted_join`` BEFORE a 100 TB job
    burns a straggler hour: the ``top`` heaviest key values with their
    row share, plus each key's share-of-total in one aggregated pass
    (count per key → window rank + total; nothing rescans the input).

    Output: (key_value, n, share, rank) ordered by n desc."""
    from pyspark.sql import Window

    counts = (df.groupBy(*[F.col(k) for k in keys])
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy(F.col("n").desc(),
                       *[F.col(k) for k in keys])  # deterministic ties
    total = counts.agg(F.sum("n").alias("__t"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .crossJoin(F.broadcast(total))
        .select(*keys, "n",
                F.round(F.col("n") / F.col("__t"), 6).alias("share"),
                F.col("rank").cast("int").alias("rank"))
    )


def top_fraction(df: DataFrame, score_col: str, fraction: float,
                 tie_col: str, descending: bool = True,
                 n_buckets: int = 10_000, cache: bool = True) -> DataFrame:
    """Exactly the top ``fraction`` of rows by ``(score_col, tie_col)``
    — the curation primitive "keep the best 20% of the corpus by
    quality score" — WITHOUT a global sort or a corpus-wide window.

    A naive ``ORDER BY score LIMIT k`` funnels every row through one
    GlobalLimit partition, and ``percent_rank() OVER ()`` is a
    single-task window: both are walls at 100 TB.  This is the classic
    two-pass distributed selection instead:

    1. one aggregation pass builds a ``n_buckets`` equi-width histogram
       of the score (min/max from the same pass; tiny result);
    2. the cumulative histogram (driver-side over <= n_buckets rows,
       never data) locates the bucket containing the k-th row: rows in
       strictly-better buckets are selected wholesale — no sort ever
       touches them;
    3. only the BOUNDARY bucket (~n/n_buckets rows) is ranked exactly
       by ``(score, tie_col)`` to pick its remainder.  That ranking is
       a single window over one bucket's rows — document-scale, not
       corpus-scale; raise ``n_buckets`` if scores concentrate.

    Ties on ``(score, tie_col)`` must be unique (``tie_col`` a key) for
    "exactly k rows" to be well-defined.  Deterministic and
    engine-reproducible when ``score_col`` is (as the quality scores
    here are) a value both engines compute bit-identically — the
    DuckDB oracle is a plain QUALIFY row_number() form.

    The algorithm reads the frame THREE times (stats, histogram, final
    selection); with ``cache=True`` (default) the non-null-score frame
    is persisted MEMORY_AND_DISK across the passes, so (a) a
    NONDETERMINISTIC upstream (rand()/sample) cannot make the histogram
    and the tagged pass disagree — which would silently return the
    wrong number of rows — and (b) an expensive upstream computes once.
    The persisted frame stays referenced by the returned DataFrame;
    unpersist via ``spark.catalog.clearCache()`` once the result is
    materialized.  Pass ``cache=False`` ONLY when the upstream is
    deterministic and cheaper to recompute than to spill (e.g. a bare
    column-pruned scan at 100 TB).

    Returns the selected rows with their original columns.
    """
    if not (0.0 < fraction <= 1.0):
        raise ValueError("fraction must be in (0, 1]")
    from pyspark import StorageLevel

    # the selection universe is the NON-NULL scores: a NULL score joins
    # no bucket and can never be selected — and it is this frame, not
    # df, that every pass below must agree on row-for-row
    nn = df.filter(F.col(score_col).isNotNull())
    if cache:
        nn = nn.persist(StorageLevel.MEMORY_AND_DISK)
    stats = nn.agg(
        F.min(score_col).alias("lo"), F.max(score_col).alias("hi"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    n, lo, hi = stats["n"], stats["lo"], stats["hi"]
    if n == 0:
        nn.unpersist()
        return df.limit(0)
    k = int(n * fraction)
    if k == 0:
        nn.unpersist()
        return df.limit(0)
    if k >= n:
        # the whole (non-null-score) universe — same universe rule as
        # the selective path, so fraction=1.0 still excludes NULL scores
        return nn
    if lo == hi:
        # all scores identical: the histogram cannot discriminate, so
        # the whole frame IS the boundary bucket — one exact ranking by
        # tie_col (the documented degenerate case; corpus-wide window)
        bucket = F.lit(0).cast("int")
        n_buckets = 1
    else:
        width = (float(hi) - float(lo)) / n_buckets
        # bucket 0 = best scores when descending
        raw = F.floor((F.col(score_col).cast("double") - F.lit(float(lo)))
                      / F.lit(width))
        idx = F.least(raw, F.lit(n_buckets - 1)).cast("int")
        bucket = (F.lit(n_buckets - 1) - idx) if descending else idx
    hist = {r["b"]: r["c"] for r in
            nn.select(bucket.alias("b")).groupBy("b")
            .agg(F.count(F.lit(1)).alias("c")).collect()}
    cum = 0
    boundary = None
    for b in range(n_buckets):
        c = hist.get(b, 0)
        if cum + c >= k:
            boundary = b
            break
        cum += c
    take_from_boundary = k - cum
    # least(NULL, x) = x, so a NULL score would otherwise land in the
    # top bucket; nn already restricted the universe to non-null scores
    tagged = nn.withColumn("__tfb", bucket)
    whole = tagged.filter(F.col("__tfb") < boundary)
    order = [F.col(score_col).desc() if descending else F.col(score_col).asc(),
             F.col(tie_col).asc()]
    from pyspark.sql import Window
    bnd = (tagged.filter(F.col("__tfb") == boundary)
           .withColumn("__tfr", F.row_number().over(
               Window.partitionBy("__tfb").orderBy(*order)))
           .filter(F.col("__tfr") <= take_from_boundary)
           .drop("__tfr"))
    return whole.unionByName(bnd).drop("__tfb")


def shuffle_key(id_col: Column | str, epoch: int = 0,
                modulus: int = 1_000_003) -> Column:
    """Deterministic, engine-reproducible training-order shuffle key:
    ``pmod(pmod(id + epoch·7919, M) · (2654435761 mod M), M)`` — order
    a corpus by ``(shuffle_key, id)`` to get a reproducible pseudo-
    random epoch ordering, and bump ``epoch`` for the next pass.  The
    bounded-intermediate Knuth form (see llm/text.py hash_split) never
    overflows int64 and gives negative ids a defined key; a total sort
    on the key is range-partitioned by Spark — scale-safe, unlike
    rank-assignment (a global row_number window).  Collisions (corpus
    > M) are broken by the id, costing only local order randomness."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    # (id + s) mod M == ((id mod M) + (s mod M)) mod M: reduce BEFORE
    # adding so an id near 2^63 can't wrap the shift (silent in Spark,
    # an error in ANSI engines — same hazard class as hash_split)
    shifted = F.pmod(F.pmod(c.cast("long"), F.lit(modulus))
                     + F.lit((epoch * 7919) % modulus), F.lit(modulus))
    return F.pmod(shifted * F.lit(2654435761 % modulus), F.lit(modulus))


def top_fraction_by_group(df: DataFrame, group_cols: list[str],
                          score_col: str, fraction: float, tie_col: str,
                          descending: bool = True) -> DataFrame:
    """Top ``fraction`` of rows WITHIN each group — "keep the best 30%
    per language / per domain", the stratified sibling of
    :func:`top_fraction`.

    Here a window IS the scale-correct tool: the rank is partitioned by
    ``group_cols``, so parallelism = number of groups and no task sees
    more than one group (the global form is where a window collapses to
    one task — that is what :func:`top_fraction` replaces).  If a single
    GROUP is itself whale-sized, apply :func:`top_fraction` to that
    group's rows instead.  NULL scores are excluded from each group's
    universe, matching :func:`top_fraction`; exactly
    ``floor(fraction · group_n)`` rows per group."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError("fraction must be in (0, 1]")
    from pyspark.sql import Window

    order = [F.col(score_col).desc() if descending else F.col(score_col).asc(),
             F.col(tie_col).asc()]
    nn = df.filter(F.col(score_col).isNotNull())
    w = Window.partitionBy(*group_cols)
    ranked = (nn.withColumn("__tfr", F.row_number().over(w.orderBy(*order)))
              .withColumn("__tfn", F.count(F.lit(1)).over(w)))
    return (ranked
            .filter(F.col("__tfr") <= F.floor(F.col("__tfn") * F.lit(fraction)))
            .drop("__tfr", "__tfn"))


#: Count-Min hash family: pairwise-independent-ish (a·k + b mod P) mod W
#: rows over the prime P — every constant fits the bounded-intermediate
#: rule (max product < P², far under 2^63), so any SQL engine
#: reproduces the sketch bit-for-bit.
_CMS_PRIME = 1_000_003
_CMS_COEFFS = [(131, 737), (1009, 62875), (75321, 19), (42643, 80917)]


def _cms_bucket(key: Column, row: int, width: int) -> Column:
    a, b = _CMS_COEFFS[row]
    p = F.pmod(F.pmod(key.cast("long"), F.lit(_CMS_PRIME)) * F.lit(a)
               + F.lit(b), F.lit(_CMS_PRIME))
    return F.pmod(p, F.lit(width))


def count_min_sketch(df: DataFrame, key_col: str, depth: int = 4,
                     width: int = 1024) -> DataFrame:
    """(row, bucket, cnt) — a Count-Min sketch of ``key_col``'s
    frequencies (Cormode & Muthukrishnan 2005): ``depth`` hash rows of
    ``width`` counters; estimate(k) = min over rows of the counter k
    hashes into.  Overestimates only (collisions add, never subtract),
    error ≤ 2N/width with prob ≥ 1 − 2^−depth.

    The 100 TB shape: the sketch IS a grouped aggregation — explode
    each row into its ``depth`` (row, bucket) cells, hash-aggregate
    with map-side combine; the result is depth·width rows regardless of
    input size, trivially broadcastable, and two sketches MERGE by
    adding counters cell-wise (union the inputs or sum two results) —
    the property that makes it a streaming/partitioned-frequency tool
    where exact per-key counts would be another full shuffle.

    Keys must be integral (the engine-reproducible bounded-arithmetic
    hash family — see hash_split; string keys: pre-hash to a long).
    ``depth`` ≤ 4 (the fixed coefficient family)."""
    if not (1 <= depth <= len(_CMS_COEFFS)):
        raise ValueError(f"depth must be in 1..{len(_CMS_COEFFS)}")
    if width < 2:
        raise ValueError("width must be >= 2")
    k = F.col(key_col)
    cells = df.select(F.explode(F.array(*[
        F.struct(F.lit(r).alias("row"),
                 _cms_bucket(k, r, width).alias("bucket"))
        for r in range(depth)
    ])).alias("c"))
    return (cells.groupBy(F.col("c.row").alias("row"),
                          F.col("c.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(sketch: DataFrame, probes: DataFrame, key_col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """(key, estimate) for every probe key: min over the sketch rows of
    the counter each hash points at.  The sketch is depth·width rows —
    broadcast — so probing any number of keys is one map-side join +
    a min-aggregate; absent cells count 0 (an unseen key may still
    estimate > 0 through collisions, never < its true count)."""
    k = F.col(key_col)
    probe_cells = probes.select(
        k.alias("__key"),
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     _cms_bucket(k, r, width).alias("bucket"))
            for r in range(depth)
        ])).alias("c"),
    ).select("__key", F.col("c.row").alias("row"),
             F.col("c.bucket").alias("bucket"))
    joined = probe_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (joined.groupBy(F.col("__key").alias(key_col))
            .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("estimate")))


#: HyperLogLog hash family (same bounded-arithmetic contract as the CMS
#: family above): two independent hashes over the prime P, each an
#: affine map FOLLOWED BY a quadratic (mid-square) map — a purely
#: affine hash keeps sequential keys in arithmetic progression, which
#: spreads them across registers with near-ZERO collisions and wrecks
#: the estimator (linear counting assumes binomial occupancy; measured
#: +50% on sequential ids before the quadratic step, ±6% after).
#: Intermediates stay bounded: h < P, so h² + c·h < P² + 76k·P ≈ 1e12,
#: far under 2^63 — any SQL engine reproduces the sketch bit-for-bit.
_HLL_PRIME = 1_000_003
_HLL_REG_COEF = (4391, 9973, 76003, 51349)
_HLL_RANK_COEF = (76003, 51349, 4391, 9973)
#: the hash ranges over [0, P) ≈ 2^20, so trailing-zero ranks cap at
#: 21 — registers saturate near cardinality m·2^20; swap the hash for
#: xxhash64 (Spark-side only) when estimating beyond ~1e8 distinct.
_HLL_RANK_CAP = 21


def _hll_hash(key: Column, a: int, b: int, c: int, d: int) -> Column:
    P = F.lit(_HLL_PRIME)
    h = F.pmod(F.pmod(key.cast("long"), P) * F.lit(a) + F.lit(b), P)
    return F.pmod(h * h + F.lit(c) * h + F.lit(d), P)


def _hll_rank(h2: Column) -> Column:
    """1 + trailing zero bits of ``h2`` (geometric, like HLL's leading-
    zero rank), capped; pure integer arithmetic: ``h2 & -h2`` isolates
    the lowest set bit, a WHEN chain maps the power of two to its index
    — no float log, so the rank is bit-identical on every engine."""
    low = h2.bitwiseAND(-h2)
    expr = F.lit(_HLL_RANK_CAP)  # h2 == 0: every bit "trailing zero"
    for t in range(_HLL_RANK_CAP - 2, -1, -1):
        expr = F.when(low == F.lit(1 << t), F.lit(t + 1)).otherwise(expr)
    return expr.cast("int")


def hll_alpha(m: int) -> float:
    """The standard HLL bias constant for m ≥ 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(df: DataFrame, key_col: str, m: int = 256) -> DataFrame:
    """(register, max_rank) — a HyperLogLog cardinality sketch of
    ``key_col`` (Flajolet et al. 2007): ``m`` registers, each holding
    the max rank (1 + trailing zeros of a uniform hash) seen among the
    keys routed to it.  Standard error ≈ 1.04/√m (~6.5% at m=256).

    Same 100 TB shape as :func:`count_min_sketch`: the sketch IS one
    hash aggregation with map-side combine — ≤ ``m`` rows out no matter
    the input size, trivially broadcastable — and two sketches MERGE by
    the cell-wise MAX (:func:`hll_merge`), so per-partition / per-day /
    per-stream sketches roll up without ever re-touching the raw keys.
    That merge-under-max is what an exact count-distinct can never do:
    its two-phase Expand must reshuffle the keys themselves.

    Keys must be integral, like the CMS family (string keys: pre-hash
    to a long Spark-side).  Engine-reproducible by construction —
    registers and ranks are bounded integer arithmetic (see
    :func:`_hll_rank`), which is what makes the sketch itself
    oracle-checkable counter-for-counter, not just its estimate."""
    if m < 2:
        raise ValueError("m must be >= 2")
    k = F.col(key_col)
    reg = F.pmod(_hll_hash(k, *_HLL_REG_COEF), F.lit(m))
    rank = _hll_rank(_hll_hash(k, *_HLL_RANK_COEF))
    return (df.select(reg.alias("register"), rank.alias("rank"))
            .groupBy("register").agg(F.max("rank").alias("max_rank")))


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union any number of sketches built with the same ``m``: the
    cell-wise MAX.  sketch(A ∪ B) == merge(sketch(A), sketch(B))
    bit-for-bit — asserted in tests/test_scale.py."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(F.max("max_rank").alias("max_rank"))


def hll_estimate(sketch: DataFrame, m: int = 256) -> DataFrame:
    """One row: ``n_set`` registers occupied, ``sum_inv`` =
    Σ 2^−max_rank over ALL m registers (absent ⇒ 2^0 = 1), the raw
    harmonic estimate ``est_raw`` = α·m²/sum_inv, and ``estimate`` with
    HLL's small-range linear-counting correction (E ≤ 2.5m and empty
    registers ⇒ m·ln(m/V₀)).

    Exactness note (why the oracle can pin these): every 2^−rank term
    has ≥ −21 exponent and the sum needs < 30 significand bits, so the
    accumulated double is EXACT regardless of partition order — the
    estimate is one IEEE multiply/divide on top, bit-identical across
    engines; the corrected column rounds to 4 (ln is the one
    libm-dependent op, same convention as the DSIR/unigram entries)."""
    alpha = hll_alpha(m)
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_set"),
        # Empty sketch (zero input rows): SUM is NULL — coalesce to 0.0
        # so sum_inv = m and the linear-counting branch yields the
        # correct estimate 0 (m·ln(m/m)), not NULL (r7 advice).
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))),
                   F.lit(0.0)).alias("__s"))
    est = (agg.select(
        F.col("n_set").cast("long").alias("n_set"),
        (F.col("__s") + (F.lit(m) - F.col("n_set"))).alias("sum_inv"))
        .withColumn("est_raw", F.lit(alpha * m * m) / F.col("sum_inv")))
    v0 = F.lit(m) - F.col("n_set")
    corrected = F.when((F.col("est_raw") <= F.lit(2.5 * m)) & (v0 > 0),
                       F.lit(float(m)) * F.log(F.lit(float(m)) / v0)
                       ).otherwise(F.col("est_raw"))
    return est.select(
        "n_set", "sum_inv",
        F.round("est_raw", 4).alias("est_raw"),
        F.round(corrected, 4).alias("estimate"))


# --- Binned-histogram quantile sketch ------------------------------------


def quantile_sketch(df: DataFrame, value_col: str, lo: float, hi: float,
                    n_bins: int = 256) -> DataFrame:
    """(bin, cnt) — a fixed-range binned-histogram quantile sketch: the
    third member of the mergeable-sketch family (Count-Min: frequency;
    HLL: distinct; this: rank/quantile).  ``bin = clamp(floor((x - lo)
    / w), 0, n_bins-1)`` with ``w = (hi - lo) / n_bins`` — values
    outside [lo, hi) land in the edge bins, NULLs are dropped.

    Same 100 TB shape as the other sketches: ONE hash aggregation with
    map-side combine, ≤ ``n_bins`` rows out regardless of input size,
    and two sketches merge by summing counts per bin
    (:func:`quantile_merge`) — per-partition/per-day histograms roll up
    without re-touching raw values, which an exact percentile (a global
    sort) never can.  Estimate error is bounded by the bin width, a
    KNOWN deterministic bound — unlike sampling — and the whole build
    is integer/IEEE arithmetic identical across engines, so the oracle
    reproduces the sketch bin-for-bin and the estimates to the digit."""
    if n_bins < 1 or not hi > lo:
        raise ValueError("need hi > lo and n_bins >= 1")
    w = (hi - lo) / n_bins
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w))
    b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
    return (df.where(F.col(value_col).isNotNull())
            .groupBy(b.cast("long").alias("bin"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def quantile_merge(*sketches: DataFrame) -> DataFrame:
    """Union any number of same-range sketches: counts sum per bin."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def quantile_estimate(sketch: DataFrame, qs: list[float], lo: float,
                      hi: float, n_bins: int = 256) -> DataFrame:
    """One row per requested quantile ``q``: the 1-indexed target rank
    ``r = floor(q·(n-1)) + 1``, the bin containing it, and the
    within-bin linearly interpolated estimate ``lo + w·(bin +
    (r - cum_before)/cnt_bin)``.

    The sketch is ≤ ``n_bins`` rows, so the cumulative sum runs as ONE
    deliberately single-partition window (the same bounded-input
    exception as the per-shard totals in pack_sequences) and the
    quantile probes join against it broadcast — nothing here scales
    with the raw data."""
    from pyspark.sql import Window

    w = (hi - lo) / n_bins
    win = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = (sketch
         .withColumn("cum", F.sum("cnt").over(win))
         .withColumn("cum_before", F.col("cum") - F.col("cnt"))
         .withColumn("n", F.sum("cnt").over(
             Window.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing))))
    probes = local_frame(sketch.sparkSession, [(float(q),) for q in qs], "q double")
    j = F.broadcast(probes).crossJoin(c)
    r = (F.floor(F.col("q") * (F.col("n") - 1)) + 1).alias("r")
    picked = (j.select("q", "bin", "cnt", "cum", "cum_before", "n", r)
              .where((F.col("cum") >= F.col("r"))
                     & (F.col("cum_before") < F.col("r"))))
    est = (F.lit(lo) + F.lit(w)
           * (F.col("bin") + (F.col("r") - F.col("cum_before"))
              / F.col("cnt").cast("double")))
    return picked.select("q", F.col("r").cast("long").alias("r"),
                         F.col("bin").cast("long").alias("bin"),
                         F.round(est, 6).alias("est"))


# --- K-minimum-values (KMV) distinct / Jaccard sketch --------------------

#: quadratic-hash coefficients for the KMV value hash (same bounded
#: family as the HLL register/rank hashes, distinct constants)
_KMV_COEF = (7001, 104729, 1223, 514229)


def kmv_hash(key: Column) -> Column:
    """Uniform hash of an integral key into [0, P) with P = 1,000,003 —
    the same overflow-safe quadratic form as :func:`_hll_hash` (all
    intermediates < P² < 2^63), so DuckDB can reproduce it verbatim."""
    return _hll_hash(key, *_KMV_COEF)


def kmv_sketch(df: DataFrame, key_col: str, k: int = 128) -> DataFrame:
    """The k smallest DISTINCT hash values of ``key_col`` — a KMV
    (bottom-k) cardinality sketch (Bar-Yossef et al. 2002).  Distinct
    estimate: ``(k-1)·P/h_k`` when the sketch is full; below k it is
    exact only up to hash collisions — the sketch dedups HASHES in
    [0, P) with P = 1,000,003, so two distinct keys colliding under
    the quadratic hash undercount by one (probability ≈ n²/2P: already
    non-negligible once distinct keys reach a few thousand).  Oracle
    fixtures must not rely on sub-k exactness at that scale.

    Unlike HLL this sketch supports set INTERSECTION: the k smallest of
    a union of sketches is the union's sketch, and Jaccard is estimated
    by how many of those survivors appear in both sides
    (:func:`kmv_jaccard`).  Build = distinct + bounded top-k
    (TakeOrdered, never a global sort); ≤ k rows out; merge = union →
    distinct → top-k, no raw keys re-read."""
    h = kmv_hash(F.col(key_col)).alias("h")
    return df.select(h).distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = 128) -> DataFrame:
    """One row: ``n_kept`` hashes in the sketch and the cardinality
    ``estimate`` — ``(k-1)·P/max_h`` in the full regime; below k it
    returns ``n_kept``, which equals the true distinct count only up
    to hash collisions (see :func:`kmv_sketch`)."""
    agg = sketch.agg(F.count(F.lit(1)).alias("n_kept"),
                     F.max("h").alias("max_h"))
    est = F.when(
        F.col("n_kept") < F.lit(k), F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(float(_HLL_PRIME))
                / F.col("max_h").cast("double"))
    return agg.select(F.col("n_kept").cast("long").alias("n_kept"),
                      F.round(est, 4).alias("estimate"))


def kmv_jaccard(sk_a: DataFrame, sk_b: DataFrame, k: int = 128) -> DataFrame:
    """Jaccard similarity estimate of two keyed sets from their KMV
    sketches alone: take the k smallest hashes of the union of the two
    sketches, count how many are present in BOTH, divide by the
    union-sketch size.  One row: ``n_union_sketch``, ``n_both``,
    ``jaccard_est``.  Everything operates on ≤ 2k rows — the compare
    never touches the raw sets, which is the point at 100 TB."""
    a = sk_a.select(F.col("h").alias("h"), F.lit(1).alias("in_a"))
    b = sk_b.select(F.col("h").alias("h"), F.lit(1).alias("in_b"))
    u = (a.join(b, "h", "full_outer")
         .select("h", F.coalesce("in_a", F.lit(0)).alias("in_a"),
                 F.coalesce("in_b", F.lit(0)).alias("in_b"))
         .orderBy("h").limit(k))
    return u.agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long"))
         .cast("long").alias("n_both"),
        F.round(F.sum((F.col("in_a") * F.col("in_b")).cast("double"))
                / F.count(F.lit(1)), 6).alias("jaccard_est"))


def hll_sketch_grouped(df: DataFrame, group_cols: list[str], key_col: str,
                       m: int = 256) -> DataFrame:
    """Per-group HyperLogLog sketches: (group_cols…, register, max_rank)
    — ≤ ``m`` rows PER GROUP however large the group, the sketch-family
    answer to "distinct users per segment per day" dashboards where an
    exact grouped COUNT(DISTINCT) reshuffles the raw keys every
    refresh.  One hash aggregation keyed on (group, register) with
    map-side combine; sketches of the same group merge across
    partitions/days by cell-wise MAX exactly like the global form."""
    if m < 2:
        raise ValueError("m must be >= 2")
    k = F.col(key_col)
    reg = F.pmod(_hll_hash(k, *_HLL_REG_COEF), F.lit(m))
    rank = _hll_rank(_hll_hash(k, *_HLL_RANK_COEF))
    return (df.select(*group_cols, reg.alias("register"), rank.alias("rank"))
            .groupBy(*group_cols, "register")
            .agg(F.max("rank").alias("max_rank")))


def hll_estimate_grouped(sketch: DataFrame, group_cols: list[str],
                         m: int = 256) -> DataFrame:
    """Per-group estimates from :func:`hll_sketch_grouped` output — the
    same harmonic estimator + small-range linear-counting correction as
    :func:`hll_estimate`, one row per group, computed in one hash-agg
    over the (≤ m · n_groups)-row sketch."""
    alpha = hll_alpha(m)
    agg = (sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_set"),
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))),
                   F.lit(0.0)).alias("__s")))
    est = (agg.select(
        *group_cols, F.col("n_set").cast("long").alias("n_set"),
        (F.col("__s") + (F.lit(m) - F.col("n_set"))).alias("sum_inv"))
        .withColumn("est_raw", F.lit(alpha * m * m) / F.col("sum_inv")))
    v0 = F.lit(m) - F.col("n_set")
    corrected = F.when((F.col("est_raw") <= F.lit(2.5 * m)) & (v0 > 0),
                       F.lit(float(m)) * F.log(F.lit(float(m)) / v0)
                       ).otherwise(F.col("est_raw"))
    return est.select(
        *group_cols, "n_set", "sum_inv",
        F.round("est_raw", 4).alias("est_raw"),
        F.round(corrected, 4).alias("estimate"))


def heavy_hitters_topk(df: DataFrame, key_col: str, k: int = 20,
                       counters: int = 64) -> DataFrame:
    """Exact top-k heavy hitters WITHOUT shuffling the full key
    cardinality: per-partition Misra–Gries candidate summaries, then an
    exact recount restricted to the candidate set (the standard 2-pass
    sketch-then-verify shape).

    Why not plain ``groupBy(key).count().orderBy(...).limit(k)``?  Its
    shuffle carries one row per DISTINCT KEY PER MAP TASK — at 100 TB
    with billions of keys (user ids, URLs, n-grams) the exchange IS the
    job.  Here pass 1 runs Misra–Gries inside each partition
    (``counters`` cells, Arrow-batched: merge a batch's value_counts,
    then the MG decrement — subtract the (counters+1)-th largest count
    from all cells and drop the non-positive — so each batch is
    vectorized, never per-row Python), emitting ≤ ``counters`` keys per
    partition.  The union of partition candidates provably contains
    every key with global count > N/counters (summing the per-partition
    MG error bounds), so for true heavy hitters the candidate set is
    complete.  Pass 2 broadcast-semi-joins the fact to the candidate
    keys and recounts exactly — the only full-data aggregation groups by
    ≤ counters·partitions keys, and the final top-k is a TakeOrdered.

    Exactness contract: returned counts are exact; the top-k set itself
    is guaranteed complete when the k-th hitter's count exceeds
    N/``counters`` (the caller sizes ``counters`` to the skew it is
    hunting — heavy-hitter queries are only meaningful on skewed keys).
    Deterministic output order: (count DESC, key)."""
    import pandas as pd

    def mg(batches):
        counts: dict = {}
        for pdf in batches:
            for key, c in pdf[key_col].value_counts().items():
                counts[key] = counts.get(key, 0) + int(c)
            if len(counts) > counters:
                cut = sorted(counts.values(), reverse=True)[counters]
                counts = {kk: v - cut for kk, v in counts.items()
                          if v - cut > 0}
        yield pd.DataFrame({key_col: list(counts.keys())})

    field = df.schema[key_col]
    cand = (df.select(key_col)
            .mapInPandas(mg, type(df.schema)([field]))
            .distinct())
    exact = (df.join(F.broadcast(cand), key_col, "left_semi")
             .groupBy(key_col)
             .agg(F.count(F.lit(1)).alias("cnt")))
    return (exact.orderBy(F.desc("cnt"), key_col).limit(k)
            .select(key_col, F.col("cnt").cast("long").alias("cnt")))


def bucketed_global_rank(df: DataFrame, score: Column | str,
                         tie_cols: list[str], out_col: str = "rank",
                         descending: bool = False, n_buckets: int = 4096,
                         cache: bool = True) -> DataFrame:
    """EXACT global ``row_number() OVER (ORDER BY score [DESC],
    tie_cols…)`` without a single-partition sort — the rank-assignment
    sibling of :func:`top_fraction`'s selection (same two-pass
    histogram idea, r8 verdict items 3-4).

    A plain ``Window.orderBy(...)`` funnels the whole frame through ONE
    task: fine for a bounded dimension, a wall for an
    unbounded-cardinality frame (hundreds of millions of customers).
    Here:

    1. one aggregation pass takes (min, max, n) of the score;
    2. each row is bucketed into an equi-width histogram cell (cells
       ordered like the target sort order); the per-cell counts
       (≤ ``n_buckets`` rows) come to the driver once and prefix-sum
       into per-cell rank OFFSETS, broadcast back as a k-row join;
    3. ``row_number()`` runs PER CELL — ``partitionBy(cell)`` — so the
       sort is n/n_buckets-sized and embarrassingly parallel; the
       global rank is offset + local rank.

    Exactness: the cell index is a monotone function of the score (the
    double cast used for bucketing is order-preserving for int64 up to
    2^53 and for dates-as-days always), so cell order == score order
    and within-cell ranking by the ORIGINAL typed column (never the
    cast) breaks ties exactly like the corpus-wide window would.
    Degenerate all-equal scores collapse to one cell — then tie_cols
    carry the whole order and the single window is the documented
    exception, same as :func:`top_fraction`.

    ``(score, *tie_cols)`` must be unique for the rank to be
    deterministic.  ``cache=True`` persists the input MEMORY_AND_DISK
    across the three passes (stats, histogram, final) — required when
    the upstream is nondeterministic, cheaper always; the caller (or
    the verify harness's ``clearCache``) releases it after
    materialization.  Pass ``cache=False`` when the caller already
    persisted ``df``.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    s = F.col(score) if isinstance(score, str) else score
    tagged_src = df.withColumn("__bgr_s", s)
    # DATE/TIMESTAMP scores (the docstring's "dates-as-days" case)
    # bucket through an exact monotone integer twin — date→days since
    # epoch, timestamp→microseconds (NTZ cast to session-tz timestamp
    # first; unix_micros rejects NTZ) — so float(lo) below never sees a
    # datetime object (r9 ADVICE: callers previously had to pre-convert
    # or crash).  Within-cell ordering still uses the ORIGINAL column.
    score_dt = dict(tagged_src.dtypes)["__bgr_s"]
    if score_dt == "date":
        sn = F.datediff(F.col("__bgr_s"), F.lit("1970-01-01").cast("date"))
    elif score_dt in ("timestamp", "timestamp_ntz"):
        sn = F.unix_micros(F.col("__bgr_s").cast("timestamp"))
    else:
        sn = None  # numeric: bucket on __bgr_s directly, no twin column
    sn_col = "__bgr_sn" if sn is not None else "__bgr_s"
    if sn is not None:
        tagged_src = tagged_src.withColumn("__bgr_sn", sn)
    if cache:
        tagged_src = tagged_src.persist(StorageLevel.MEMORY_AND_DISK)
    stats = tagged_src.agg(
        F.min(sn_col).alias("lo"), F.max(sn_col).alias("hi"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    n, lo, hi = stats["n"], stats["lo"], stats["hi"]
    if n == 0:
        return (tagged_src.withColumn(out_col, F.lit(None).cast("long"))
                .drop("__bgr_s", "__bgr_sn"))
    if lo == hi:
        base = F.lit(0).cast("int")
        n_buckets = 1
    else:
        lo_d, hi_d = float(lo), float(hi)
        width = (hi_d - lo_d) / n_buckets
        raw = F.floor((F.col(sn_col).cast("double") - F.lit(lo_d))
                      / F.lit(width))
        idx = F.least(raw, F.lit(n_buckets - 1)).cast("int")
        base = (F.lit(n_buckets - 1) - idx) if descending else idx
    # NULL scores get a NULL cell — and therefore a NULL rank, the
    # "not in the ranking universe" semantics (same universe rule as
    # top_fraction).  Without the guard, F.least's null-SKIPPING (it
    # returns the non-null argument) would silently file NULL scores
    # into the extreme cell and hand them real ranks.
    cell = F.when(F.col("__bgr_s").isNull(), F.lit(None).cast("int")) \
        .otherwise(base)
    tagged = tagged_src.withColumn("__bgr_b", cell)
    hist = {r["b"]: r["c"] for r in
            tagged.select(F.col("__bgr_b").alias("b")).groupBy("b")
            .agg(F.count(F.lit(1)).alias("c")).collect()
            if r["b"] is not None}
    offsets, cum = [], 0
    for b in range(n_buckets):
        c = hist.get(b, 0)
        if c:
            offsets.append((b, cum))
            cum += c
    spark = df.sparkSession
    off_df = local_frame(spark, offsets, "__bgr_b int, __bgr_off long")
    order = [F.col("__bgr_s").desc() if descending
             else F.col("__bgr_s").asc()]
    order += [F.col(t).asc() for t in tie_cols]
    w = Window.partitionBy("__bgr_b").orderBy(*order)
    rank = F.when(F.col("__bgr_b").isNull(), F.lit(None)) \
        .otherwise(F.col("__bgr_off") + F.row_number().over(w)) \
        .cast("long")
    return (tagged.join(F.broadcast(off_df), "__bgr_b", "left")
            .withColumn(out_col, rank)
            .drop("__bgr_b", "__bgr_off", "__bgr_s", "__bgr_sn"))


def ntile_from_rank(rank_col: Column, n: int, k: int) -> Column:
    """SQL ``ntile(k)`` as a pure expression of the global rank and the
    row count — the first ``n % k`` tiles get ``ceil(n/k)`` rows, the
    rest ``floor(n/k)`` (the ANSI definition both Spark and DuckDB
    implement).  With :func:`bucketed_global_rank` supplying the rank,
    quantile bucketing needs no unpartitioned ntile window at all."""
    if k <= 0:
        raise ValueError("k must be positive")
    q, r = divmod(n, k)
    if q == 0:
        # fewer rows than tiles: tile i gets row i
        return rank_col.cast("int")
    split = r * (q + 1)
    big = F.floor((rank_col - 1) / F.lit(q + 1)) + 1
    small = F.lit(r) + F.floor((rank_col - F.lit(split) - 1) / F.lit(q)) + 1
    return F.when(rank_col <= F.lit(split), big).otherwise(small).cast("int")


def bucketed_rank_by_group(df: DataFrame, group_cols: list[str],
                           score: Column | str, tie_cols: list[str],
                           out_col: str = "rank",
                           descending: bool = False,
                           n_buckets: int = 1024,
                           cache: bool = True) -> DataFrame:
    """Per-group exact ``row_number() OVER (PARTITION BY group ORDER BY
    score, ties)`` for UNBOUNDED group cardinality AND unbounded group
    sizes — the grouped sibling of :func:`bucketed_global_rank`, with
    one structural upgrade: nothing ever collects to the driver, so
    billions of groups are as fine as one.

    A plain partitioned window is already parallel ACROSS groups but
    serial WITHIN one: a hot group (one mega-merchant among millions)
    still sorts on a single task.  Here, per group:

    1. (min, max) of the score per group — one hash-agg, joined back
       (both sides shuffle on the group key; AQE co-partitions);
    2. every row gets an equi-width histogram cell ordered like the
       target sort; per-(group, cell) counts prefix-sum into rank
       offsets with a window over AT MOST ``n_buckets`` rows per group
       — a bounded partition by construction, never data-sized;
    3. ``row_number`` runs per (group, cell) — the hot group's sort
       splits across its occupied cells — and the group rank is
       offset + local rank.

    Same exactness argument as the global form (monotone double cast
    for cells, original typed column for within-cell order); all-equal
    scores in a group degenerate to one cell, i.e. exactly the plain
    partitioned window for that group and no worse.  ``(group, score,
    *tie_cols)`` must be unique.  ``cache=True`` persists the
    cell-tagged frame MEMORY_AND_DISK across the counting and ranking
    consumers (release via ``clearCache`` after materialization)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    s = F.col(score) if isinstance(score, str) else score
    tagged = df.withColumn("__bgr_s", s)
    # DATE/TIMESTAMP scores bucket through an exact monotone integer
    # twin (days / epoch-micros) — a date .cast("double") is NULL in
    # Spark, which would silently file every row into the degenerate
    # cell; same fix as bucketed_global_rank (r9 ADVICE).
    score_dt = dict(tagged.dtypes)["__bgr_s"]
    if score_dt == "date":
        sn = F.datediff(F.col("__bgr_s"), F.lit("1970-01-01").cast("date"))
    elif score_dt in ("timestamp", "timestamp_ntz"):
        sn = F.unix_micros(F.col("__bgr_s").cast("timestamp"))
    else:
        sn = None  # numeric: bucket on __bgr_s directly, no twin column
    sn_col = "__bgr_sn" if sn is not None else "__bgr_s"
    if sn is not None:
        tagged = tagged.withColumn("__bgr_sn", sn)
    stats = (tagged.groupBy(*group_cols)
             .agg(F.min(sn_col).alias("__bgr_lo"),
                  F.max(sn_col).alias("__bgr_hi")))
    # NULL group keys must keep their stats row: groupBy treats NULL as
    # a real group (as does the PARTITION BY window this function claims
    # bit-identity with), but a plain equi-join drops it because NULL
    # never equals NULL.  eqNullSafe is still an equi-join key to the
    # planner (hash/SMJ, no cartesian hazard), so the only change is
    # the NULL-group rows survive (r9 ADVICE, medium).
    la, ra = tagged.alias("__bgr_l"), stats.alias("__bgr_r")
    cond = _reduce_and([F.col(f"__bgr_l.{c}").eqNullSafe(F.col(f"__bgr_r.{c}"))
                        for c in group_cols])
    t = la.join(ra, cond).select("__bgr_l.*", "__bgr_r.__bgr_lo",
                                 "__bgr_r.__bgr_hi")
    width = ((F.col("__bgr_hi").cast("double")
              - F.col("__bgr_lo").cast("double")) / F.lit(n_buckets))
    raw = F.floor((F.col(sn_col).cast("double")
                   - F.col("__bgr_lo").cast("double")) / width)
    # NULL scores → NULL cell → NULL rank (the top_fraction universe
    # rule); the explicit isNull arm matters because F.least SKIPS
    # nulls (a NULL score would otherwise land in the extreme cell),
    # and an all-NULL group's lo==hi comparison is NULL, not true.
    idx = (F.when(F.col("__bgr_s").isNull(), F.lit(None))
           .when(F.col("__bgr_lo") == F.col("__bgr_hi"), F.lit(0))
           .otherwise(F.least(raw, F.lit(n_buckets - 1)))).cast("int")
    cell = F.when(idx.isNull(), F.lit(None).cast("int")).otherwise(
        (F.lit(n_buckets - 1) - idx) if descending else idx)
    t = t.withColumn("__bgr_b", cell).drop("__bgr_lo", "__bgr_hi")
    if cache:
        t = t.persist(StorageLevel.MEMORY_AND_DISK)
    counts = (t.filter(F.col("__bgr_b").isNotNull())
              .groupBy(*group_cols, "__bgr_b")
              .agg(F.count(F.lit(1)).alias("__bgr_c")))
    w_off = (Window.partitionBy(*group_cols).orderBy("__bgr_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        *group_cols, "__bgr_b",
        F.coalesce(F.sum("__bgr_c").over(w_off), F.lit(0))
        .alias("__bgr_off"))
    order = [F.col("__bgr_s").desc() if descending
             else F.col("__bgr_s").asc()]
    order += [F.col(c).asc() for c in tie_cols]
    w = Window.partitionBy(*group_cols, "__bgr_b").orderBy(*order)
    rank = F.when(F.col("__bgr_b").isNull(), F.lit(None)) \
        .otherwise(F.col("__bgr_off") + F.row_number().over(w)) \
        .cast("long")
    # same null-safe treatment on the join-back (NULL cells have no
    # offsets row by construction — counts filters them — so they fall
    # through the left join to a NULL offset and the NULL-rank arm)
    lb, rb = t.alias("__bgr_l"), offsets.alias("__bgr_r")
    cond2 = _reduce_and(
        [F.col(f"__bgr_l.{c}").eqNullSafe(F.col(f"__bgr_r.{c}"))
         for c in [*group_cols, "__bgr_b"]])
    return (lb.join(rb, cond2, "left")
            .select("__bgr_l.*", "__bgr_r.__bgr_off")
            .withColumn(out_col, rank)
            .drop("__bgr_b", "__bgr_off", "__bgr_s", "__bgr_sn"))


def bucketed_cumsum(df: DataFrame, order_col: str,
                    value_cols: list[str],
                    n_buckets: int = 4096) -> DataFrame:
    """EXACT global running sums ``SUM(v) OVER (ORDER BY order_col)``
    for int64 value columns without a single-partition window — the
    cumulative-sum sibling of :func:`bucketed_global_rank` (same
    two-pass histogram idea): rows bucket into equi-width cells of the
    (numeric) order column, per-cell TOTALS (≤ ``n_buckets`` rows ×
    len(value_cols) int64s) come to the driver once and prefix-sum
    into per-cell OFFSETS, and the within-cell running sum is a
    window PARTITIONED BY cell.  Integer sums make the result exact
    and association-free.  ``order_col`` values must be unique (group
    first — a CDF over distinct thresholds, the intended use).  NULL
    order keys are excluded (not part of the ordering universe)."""
    from pyspark.sql import Window

    t = df.filter(F.col(order_col).isNotNull())
    stats = t.agg(F.min(order_col).alias("lo"),
                  F.max(order_col).alias("hi"),
                  F.count(F.lit(1)).alias("n")).collect()[0]
    if stats["n"] == 0:
        # Degenerate case keeps the SAME row universe as the normal
        # path (NULL order keys filtered out — r10 ADVICE): return the
        # filtered frame, not the original df, so callers see a
        # consistent contract whether or not any non-NULL keys exist.
        out = t
        for v in value_cols:
            out = out.withColumn(f"cum_{v}", F.lit(None).cast("long"))
        return out
    lo, hi = float(stats["lo"]), float(stats["hi"])
    if lo == hi:
        cell = F.lit(0)
    else:
        width = (hi - lo) / n_buckets
        cell = F.least(F.floor((F.col(order_col).cast("double")
                                - F.lit(lo)) / F.lit(width)),
                       F.lit(n_buckets - 1)).cast("int")
    t = t.withColumn("__bcs_b", cell)
    per_cell = (t.groupBy("__bcs_b")
                .agg(*[F.sum(v).cast("long").alias(v) for v in value_cols])
                .collect())
    per_cell.sort(key=lambda r: r["__bcs_b"])
    offsets, cum = [], {v: 0 for v in value_cols}
    for r in per_cell:
        offsets.append((r["__bcs_b"], *[cum[v] for v in value_cols]))
        for v in value_cols:
            cum[v] += r[v]
    schema = "__bcs_b int, " + ", ".join(f"__bcs_off_{v} long"
                                         for v in value_cols)
    off = local_frame(df.sparkSession, offsets, schema)
    w = (Window.partitionBy("__bcs_b").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = t.join(F.broadcast(off), "__bcs_b")
    for v in value_cols:
        out = out.withColumn(
            f"cum_{v}",
            (F.col(f"__bcs_off_{v}") + F.sum(v).over(w)).cast("long"))
    return out.drop("__bcs_b", *[f"__bcs_off_{v}" for v in value_cols])
