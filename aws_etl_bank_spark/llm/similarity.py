"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k with the query set broadcast — one
pass over the corpus, no shuffle of corpus rows except the final top-k.
Scale path: IVF — corpus pre-assigned to centroid cells, queries probe
the ``nprobe`` nearest cells, brute force only inside probed cells.
Dot products are built-in ``zip_with``/``aggregate`` expressions
(JVM-side, codegen'd) — no UDF per row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from aws_etl_bank_spark.session import local_frame


def _to_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    ad, bd = _to_double(a), _to_double(b)
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k neighbors per query: broadcast the query set against the
    corpus, rank by (cosine desc, neighbor id asc).

    Output: (query_id, neighbor_id, rank, cosine).  Self-matches are
    excluded.  Ranking rounds cosine to 6 decimals before ordering so the
    result is stable across engines/float summation orders."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))))
    )
    w = Window.partitionBy("query_id").orderBy(F.round("cosine", 6).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                F.round("cosine", 4).alias("cosine"))
    )


def train_centroids(corpus: DataFrame, n_cells: int = 16,
                    vec_col: str = "embedding", seed: int = 7,
                    max_iter: int = 20) -> DataFrame:
    """(cell_id, centroid array<double>) from k-means|| over the corpus
    (``pyspark.ml.clustering.KMeans``).  Distributed training; only the
    ``n_cells`` centers come back to the driver, so the result is a tiny
    broadcastable frame regardless of corpus size."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(array_to_vector(_to_double(F.col(vec_col))).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, initMode="k-means||").fit(feat)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return local_frame(corpus.sparkSession, rows, "cell_id long, centroid array<double>")


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def pq_codebooks(corpus: DataFrame, dim: int, m: int = 8, n_codes: int = 16,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 trained: bool = False, seed: int = 7, max_iter: int = 20,
                 sample_fraction: float | None = None) -> list[list[list[float]]]:
    """Product-quantization codebooks: ``m`` codebooks of ``n_codes``
    centroids over the ``dim/m``-dim subspaces of ``vec_col``.

    Returns a driver-side nested list (``m × n_codes × dim/m`` floats —
    8·16·8 = 1 Ki doubles at the defaults, broadcast as a literal into the
    encode/search expressions exactly like ``KMeans.clusterCenters()``).

    ``trained=False`` (default): deterministic stand-in — the subvectors
    of the ``n_codes`` lowest-id corpus vectors; reproducible with no
    training job, which keeps the oracle-checked registry path stable.
    ``trained=True``: per-subspace k-means|| (``m`` small fits, optionally
    on a ``sample_fraction`` of the corpus — PQ training is conventionally
    done on a bounded sample, so the fit cost does not scale with the
    corpus)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    base = corpus
    if not trained:
        rows = (base.orderBy(id_col).limit(n_codes)
                .select(_to_double(F.col(vec_col)).alias("v")).collect())
        if len(rows) < n_codes:
            raise ValueError(f"corpus has {len(rows)} rows < n_codes {n_codes}")
        return [[list(r.v[j * dsub:(j + 1) * dsub]) for r in rows] for j in range(m)]

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    v = _to_double(F.col(vec_col))
    books = []
    for j in range(m):
        feat = base.select(array_to_vector(F.slice(v, j * dsub + 1, dsub)).alias("features"))
        model = KMeans(k=n_codes, seed=seed + j, maxIter=max_iter,
                       initMode="k-means||").fit(feat)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def _arr_txt(xs) -> str:
    return "array(" + ",".join(xs) + ")"


def _book_txt(sub: list[list[float]]) -> str:
    return _arr_txt(_arr_txt(repr(float(x)) + "D" for x in code) for code in sub)


def _l2sq_txt(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a},{b},(zx,zy)->(zx-zy)*(zx-zy)),"
            "0D,(acc,zz)->acc+zz)")


def _pq_literal(codebooks: list[list[list[float]]]) -> Column:
    # ONE parsed SQL string instead of m × n_codes × dsub F.lit() calls:
    # building the nested literal Column-by-Column costs a py4j round
    # trip per leaf (~1000 at the defaults, seconds of driver time before
    # any execution); the JVM parses the equivalent expression text in
    # one call.  Same reasoning for _pq_codes_expr/_pq_lut_expr below —
    # each PySpark higher-order-function lambda is several py4j calls, so
    # the whole expression ships as text.
    return F.expr(_arr_txt(_book_txt(sub) for sub in codebooks))


def _pq_codes_expr(codebooks: list[list[list[float]]], vec_col: str) -> Column:
    """array<int> of per-subspace argmin codes for ``vec_col`` — a pure
    map-side expression (codebook as literal; argmin via
    ``array_position(dists, array_min(dists))``, first-match ⇒
    deterministic lowest-index tie-break)."""
    dsub = len(codebooks[0][0])
    v = f"transform(`{vec_col}`, vx -> cast(vx as double))"
    codes = []
    for j, book in enumerate(codebooks):
        sub = f"slice({v},{j * dsub + 1},{dsub})"
        dists = f"transform({_book_txt(book)}, code -> {_l2sq_txt('code', sub)})"
        codes.append(f"cast(array_position({dists}, array_min({dists})) - 1 as int)")
    return F.expr(_arr_txt(codes))


def _pq_lut_expr(codebooks: list[list[list[float]]], vec_col: str) -> Column:
    """Per-query ADC lookup table as one parsed expression:
    ``m × n_codes`` exact query-subvector→code squared-L2 distances."""
    dsub = len(codebooks[0][0])
    v = f"transform(`{vec_col}`, vx -> cast(vx as double))"
    rows = []
    for j, book in enumerate(codebooks):
        sub = f"slice({v},{j * dsub + 1},{dsub})"
        rows.append(f"transform({_book_txt(book)}, code -> {_l2sq_txt('code', sub)})")
    return F.expr(_arr_txt(rows))


def pq_encode(corpus: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, codes array<int>): nearest code (squared L2) per subspace.

    Map-only — no shuffle or UDF touches the corpus: encoding 100 TB is
    a pure scan.  The encoded corpus is ``m`` small ints per vector
    (8 bytes at the defaults) versus ``dim·4`` for the raw floats — a
    32× smaller search set."""
    return corpus.select(F.col(id_col),
                         _pq_codes_expr(codebooks, vec_col).alias("codes"))


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int,
            codebooks: list[list[list[float]]], vec_col: str = "embedding",
            id_col: str = "vec_id", refine: int | None = None) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric distance
    (ADC): corpus vectors are replaced by their ``m`` codebook codes;
    each query precomputes an ``m × n_codes`` lookup table of exact
    query-subvector→code distances, and a candidate's score is ``m``
    array lookups summed — never a ``dim``-wide float scan.

    Output: (query_id, neighbor_id, rank, adc_dist) ranked by (ADC
    squared-L2 asc, neighbor_id asc).  For an exact twin of a query the
    ADC distance is provably the global minimum (the twin shares the
    query's own argmin codes), which is what the planted-twin oracle
    checks.  Scale shape: encode is map-only; the scored join broadcasts
    the (small) query side with its LUTs against the encoded corpus, and
    only the final top-k window shuffles — by query_id, bounded by
    ``n_queries × corpus_partitions`` candidate rows after the
    per-partition window cut.

    ``refine``: ADC ranking is noisy at coarse quantization, so the
    production pattern is shortlist-then-refine — keep the top
    ``refine`` (> k) candidates by ADC, join back their RAW vectors by
    id (an equi-join whose small shortlist side broadcasts), and re-rank
    the shortlist by exact squared L2.  The exact distance is computed
    for ``n_queries × refine`` rows, never the corpus."""
    enc = pq_encode(corpus, codebooks, vec_col, id_col).withColumnRenamed(id_col, "neighbor_id")
    lut = _pq_lut_expr(codebooks, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), lut.alias("lut"))
    scored = (
        enc.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", F.aggregate(
            F.zip_with(F.col("codes"), F.col("lut"),
                       lambda c, row: F.element_at(row, c + F.lit(1))),
            F.lit(0.0), lambda acc, x: acc + x))
    )
    w = Window.partitionBy("query_id").orderBy(F.round("adc", 6), F.col("neighbor_id"))
    if refine is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                    F.round("adc", 4).alias("adc_dist"))
        )
    if refine < k:
        raise ValueError(f"refine {refine} < k {k}")
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= refine)
        .select("query_id", "neighbor_id")
    )
    qraw = queries.select(F.col(id_col).alias("query_id"),
                          _to_double(F.col(vec_col)).alias("qv"))
    craw = corpus.select(F.col(id_col).alias("neighbor_id"),
                         _to_double(F.col(vec_col)).alias("cv"))
    exact = (
        F.broadcast(shortlist.join(F.broadcast(qraw), "query_id"))
        .join(craw, "neighbor_id")
        .withColumn("l2_dist", _l2sq(F.col("qv"), F.col("cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.round("l2_dist", 6), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                F.round("l2_dist", 4).alias("l2_dist"))
    )


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int,
                codebooks: list[list[list[float]]], n_cells: int = 16,
                nprobe: int = 4, vec_col: str = "embedding",
                id_col: str = "vec_id", centroids: DataFrame | None = None,
                refine: int | None = None) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFPQ layout, re-expressed as
    DataFrame ops): IVF bounds WHICH candidates each query scans
    (~nprobe/n_cells of the corpus via the cell equi-join), PQ bounds
    WHAT a candidate costs (m one-byte codes + lookup-table reads
    instead of a dim-wide float scan).  At 100 TB this is the only shape
    where both the candidate count and the per-candidate cost are
    sublinear in the raw corpus size.

    Corpus-side work is two map-only passes fused into one scan (cell
    assignment via broadcast-centroid argmax + PQ encode) and ONE
    shuffle on cell_id; queries broadcast with their probe lists and ADC
    lookup tables.  ``refine`` re-ranks the ADC top-``refine`` shortlist
    by exact squared L2 (see :func:`pq_topk`)."""
    if centroids is None:
        centroids = (
            corpus.orderBy(id_col).limit(n_cells)
            .select(F.col(id_col).alias("cell_id"), _to_double(F.col(vec_col)).alias("centroid"))
        )
    else:
        centroids = centroids.select(
            F.col("cell_id"), _to_double(F.col("centroid")).alias("centroid"))
    def nearest_cells(df, vcol, n):
        scored = df.join(F.broadcast(centroids), F.lit(True)).withColumn(
            "csim", _dot(F.col(vcol), F.col("centroid")) / (_norm(F.col(vcol)) * _norm(F.col("centroid"))))
        w = Window.partitionBy(df.columns[0]).orderBy(F.round("csim", 6).desc(), F.col("cell_id"))
        return (scored.withColumn("crank", F.row_number().over(w))
                .filter(F.col("crank") <= n).drop("csim", "crank", "centroid"))

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _to_double(F.col(vec_col)).alias("cv"),
                      _pq_codes_expr(codebooks, vec_col).alias("codes"))
    assigned = nearest_cells(c, "cv", 1).drop("cv")

    qv = _to_double(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("query_id"),
                       _pq_lut_expr(codebooks, vec_col).alias("lut"),
                       qv.alias("qv"))
    probed = nearest_cells(q.select("query_id", "qv", "lut"), "qv", nprobe)
    scored = (
        assigned.join(F.broadcast(probed.select("cell_id", "query_id", "lut")), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", F.aggregate(
            F.zip_with(F.col("codes"), F.col("lut"),
                       lambda code, row: F.element_at(row, code + F.lit(1))),
            F.lit(0.0), lambda acc, x: acc + x))
    )
    w = Window.partitionBy("query_id").orderBy(F.round("adc", 6), F.col("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine is None:
        return (ranked.filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id",
                        F.col("rank").cast("long").alias("rank"),
                        F.round("adc", 4).alias("adc_dist")))
    if refine < k:
        raise ValueError(f"refine {refine} < k {k}")
    shortlist = ranked.filter(F.col("rank") <= refine).select("query_id", "neighbor_id")
    qraw = queries.select(F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv"))
    craw = corpus.select(F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv"))
    exact = (F.broadcast(shortlist.join(F.broadcast(qraw), "query_id"))
             .join(craw, "neighbor_id")
             .withColumn("l2_dist", _l2sq(F.col("qv"), F.col("cv"))))
    w2 = Window.partitionBy("query_id").orderBy(F.round("l2_dist", 6), F.col("neighbor_id"))
    return (exact.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                    F.round("l2_dist", 4).alias("l2_dist")))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int, n_cells: int = 16,
             nprobe: int = 4, vec_col: str = "embedding", id_col: str = "vec_id",
             centroids: DataFrame | None = None) -> DataFrame:
    """Approximate top-k: IVF.  Corpus shuffles once on cell id; queries
    probe ``nprobe`` cells so each query scans ~nprobe/n_cells of the
    corpus.

    ``centroids`` — (cell_id, centroid array<double>), e.g. from
    :func:`train_centroids` — controls cell quality.  The default is a
    deterministic stand-in (the ``n_cells`` lowest-id corpus vectors):
    reproducible without a training job, which keeps the oracle-checked
    registry path stable; trained centroids give better-balanced cells
    and higher recall at the same nprobe."""
    if centroids is None:
        centroids = (
            corpus.orderBy(id_col).limit(n_cells)
            .select(F.col(id_col).alias("cell_id"), _to_double(F.col(vec_col)).alias("centroid"))
        )
    else:
        centroids = centroids.select(
            F.col("cell_id"), _to_double(F.col("centroid")).alias("centroid")
        )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv"))

    def nearest_cells(df, vcol, out, n):
        scored = df.join(F.broadcast(centroids), F.lit(True)).withColumn(
            "csim", _dot(F.col(vcol), F.col("centroid")) / (_norm(F.col(vcol)) * _norm(F.col("centroid")))
        )
        w = Window.partitionBy(df.columns[0]).orderBy(F.round("csim", 6).desc(), F.col("cell_id"))
        return scored.withColumn("crank", F.row_number().over(w)).filter(F.col("crank") <= n).drop("csim", "crank", "centroid")

    assigned = nearest_cells(c, "cv", "cell_id", 1)
    q = queries.select(F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv"))
    probed = nearest_cells(q, "qv", "cell_id", nprobe)
    scored = (
        assigned.join(probed, "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))))
    )
    w = Window.partitionBy("query_id").orderBy(F.round("cosine", 6).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                F.round("cosine", 4).alias("cosine"))
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the 4× storage/bandwidth cut applied before shipping vectors into
    an ANN index (the scalar-quantization sibling of the PQ codes in
    :func:`pq_encode`).

    ``scale = max|x|``; ``code_i = clamp(floor(x_i·127/scale + 0.5),
    -127, 127)`` — floor(+0.5) rounding instead of an engine ``round``
    because half-even vs half-away tie-breaking differs between
    engines while ``floor`` is exact IEEE everywhere.  Emits the codes
    plus per-vector quality: ``max_err`` (⌈scale/254⌉-bounded, the
    half-step guarantee, pinned in tests) computed in the SAME
    ``transform`` that derives each code — map-only built-in array
    expressions, zero shuffles, no UDF.  An all-zero vector degenerates
    to scale 0 / all-zero codes / zero error; a NULL vector propagates
    NULLs (the per-row policy, nothing throws)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    code = lambda x: F.least(  # noqa: E731
        F.greatest(F.floor(x * F.lit(127.0) / F.col("__mx") + F.lit(0.5)),
                   F.lit(-127)), F.lit(127))
    base = df.select(F.col(id_col), v.alias("__v"), mx.alias("__mx"))
    codes = F.when(F.col("__mx") == 0.0,
                   F.transform(F.col("__v"), lambda x: F.lit(0).cast("long"))
                   ).otherwise(F.transform(F.col("__v"), code))
    errs = F.when(F.col("__mx") == 0.0, F.lit(0.0)).otherwise(
        F.array_max(F.transform(
            F.col("__v"),
            lambda x: F.abs(x - code(x) * F.col("__mx") / F.lit(127.0)))))
    return base.select(
        id_col,
        F.size("__v").alias("n_dim"),
        F.round("__mx", 6).alias("scale"),
        codes.cast("array<int>").alias("codes"),
        F.round(errs, 6).alias("max_err"))


def dim_variance_select(df: DataFrame, dim: int, top_n: int = 8,
                        vec_col: str = "embedding",
                        ) -> DataFrame:
    """Per-dimension variance of an embedding column with the ``top_n``
    highest-variance dimensions selected — the cheapest useful
    dimensionality reduction (variance-based feature selection): drop
    the near-constant dimensions before they waste index space.

    Variance uses the explicit sufficient-statistics form
    ``(Σx² − (Σx)²/n) / (n−1)`` — NOT an engine var_samp, whose
    streaming update algorithms legitimately differ across engines in
    the last ulps — so the oracle can replay the identical arithmetic.
    Plan: posexplode to (dim, x) rows, ONE map-side-combined hash-agg to
    ``dim`` rows (64 here), TakeOrdered for the top-n.  The explode is
    the honest cost (N·d rows through a d-way agg); at 100 TB you run
    it on a sample, which changes nothing structurally."""
    xs = df.select(F.posexplode(
        F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .alias("dim", "x"))
    stats = xs.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"))
    var = stats.select(
        "dim", F.col("n").cast("long").alias("n"),
        ((F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
         / (F.col("n") - 1)).alias("var"))
    return (var.orderBy(F.desc("var"), F.col("dim"))
            .limit(top_n)
            .select("dim", "n", F.round("var", 6).alias("var")))


def _pm1_planes(dim: int, n_planes: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from the bounded Knuth hash family
    (llm/text.py hash_split's multiplier): plane j, component d is
    +1 iff ``(j·dim + d)·2654435761 mod 1000003`` is odd.  Integer
    arithmetic only — reproducible everywhere, no RNG state."""
    return [[1 if ((j * dim + d) * 2654435761 % 1000003) % 2 else -1
             for d in range(dim)]
            for j in range(n_planes)]


def lsh_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int,
                    dim: int, n_planes: int = 16, bands: int = 2,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Random-hyperplane (SimHash) LSH for cosine ANN: each vector's
    ``n_planes`` sign bits are packed into ``bands`` bucket keys; a
    query meets only the corpus rows sharing at least one band bucket
    (union of ``bands`` equi-joins, implemented as one explode + one
    equi-join), then exact cosine reranks the candidates and a per-query
    window takes the top k.

    The third ANN family next to IVF (learned cells) and PQ (compressed
    distances): LSH needs NO training pass — the planes are fixed ±1
    patterns from the bounded Knuth hash (:func:`_pm1_planes`), compiled
    into the plan as literal arrays exactly like the PQ codebooks, so
    bucketing is map-only built-in array arithmetic (zip_with · sum per
    plane), engine-reproducible, and the corpus shuffles ONLY on bucket
    keys (``bands`` rows per vector, never vector×vector).  Two vectors
    agree on a band with probability (1 − θ/π)^(planes/bands) — identical
    vectors ALWAYS collide on every band, which is what the planted-twin
    oracle pins."""
    if n_planes % bands:
        raise ValueError("n_planes must divide evenly into bands")
    per_band = n_planes // bands
    planes = _pm1_planes(dim, n_planes)

    def buckets(vcol):
        v = F.transform(vcol, lambda x: x.cast("double"))
        bits = [
            (F.aggregate(
                F.zip_with(v, F.array(*[F.lit(float(c)) for c in plane]),
                           lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x) >= 0).cast("int")
            for plane in planes
        ]
        return F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                sum(bits[b * per_band + i] * (1 << i)
                    for i in range(per_band)).alias("bucket"))
            for b in range(bands)
        ])

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"),
                      F.explode(buckets(F.col(vec_col))).alias("bk"))
    qy = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("__qv"),
                        F.explode(buckets(F.col(vec_col))).alias("bk"))
    cand = (qy.join(c, "bk")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "__qv", "__cv")
            .distinct())
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine_sim(F.col("__qv"), F.col("__cv")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank"),
                    F.round("cosine", 4).alias("cosine")))


def ivf_index_write(corpus: DataFrame, path: str, n_cells: int = 16,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    centroids: DataFrame | None = None) -> None:
    """Persist an IVF index for build-once / query-many serving: the
    cell-assigned corpus lands as parquet PARTITIONED BY cell_id (one
    directory per inverted list) next to the centroid table.  This is
    the production ANN lifecycle the per-query ``ivf_topk`` entry
    skips: assignment — the only corpus-sized job — runs ONCE at build
    time, and every later query batch reads just its probed cells'
    files via partition pruning (see :func:`ivf_index_topk`), so query
    cost is ~nprobe/n_cells of the corpus at the STORAGE layer, not
    merely at the join.  Same deterministic default centroids as
    ivf_topk (lowest-id corpus vectors), so build and query agree
    without a shared training artifact."""
    if centroids is None:
        centroids = (
            corpus.orderBy(id_col).limit(n_cells)
            .select(F.col(id_col).alias("cell_id"),
                    _to_double(F.col(vec_col)).alias("centroid")))
    else:
        centroids = centroids.select(
            "cell_id", _to_double(F.col("centroid")).alias("centroid"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _to_double(F.col(vec_col)).alias("cv"))
    scored = c.join(F.broadcast(centroids), F.lit(True)).withColumn(
        "csim", _dot(F.col("cv"), F.col("centroid"))
        / (_norm(F.col("cv")) * _norm(F.col("centroid"))))
    w = Window.partitionBy("neighbor_id").orderBy(
        F.round("csim", 6).desc(), F.col("cell_id"))
    assigned = (scored.withColumn("crank", F.row_number().over(w))
                .filter(F.col("crank") <= 1)
                .select("neighbor_id", "cv", "cell_id"))
    (assigned.write.mode("overwrite").partitionBy("cell_id")
     .parquet(path + "/cells"))
    centroids.write.mode("overwrite").parquet(path + "/centroids")


def ivf_index_topk(spark, path: str, queries: DataFrame, k: int,
                   nprobe: int = 4, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_index_write`): rank the
    stored centroids per query, collect the ≤ n_queries·nprobe probed
    cell ids (a bounded scalar set — this is a query-time plan, probe
    sets are small by construction), and scan ONLY those cells via an
    ``isin`` partition filter — the parquet reader prunes every other
    inverted list's files (PartitionFilters in the scan, pinned by
    tests).  Scoring and top-k ranking are identical to ``ivf_topk``,
    so the planted-twin recall oracle transfers to the persisted
    path."""
    centroids = spark.read.parquet(path + "/centroids")
    q = queries.select(F.col(id_col).alias("query_id"),
                       _to_double(F.col(vec_col)).alias("qv"))
    cscored = q.join(F.broadcast(centroids), F.lit(True)).withColumn(
        "csim", _dot(F.col("qv"), F.col("centroid"))
        / (_norm(F.col("qv")) * _norm(F.col("centroid"))))
    w = Window.partitionBy("query_id").orderBy(
        F.round("csim", 6).desc(), F.col("cell_id"))
    probed = (cscored.withColumn("crank", F.row_number().over(w))
              .filter(F.col("crank") <= nprobe)
              .select("query_id", "qv", "cell_id"))
    cell_ids = sorted({r["cell_id"] for r in
                       probed.select("cell_id").distinct().collect()})
    cells = (spark.read.parquet(path + "/cells")
             .filter(F.col("cell_id").isin(cell_ids)))
    scored = (cells.join(probed, "cell_id")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine", _dot(F.col("qv"), F.col("cv"))
                          / (_norm(F.col("qv")) * _norm(F.col("cv")))))
    wr = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 6).desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank"),
                    F.round("cosine", 4).alias("cosine")))
