"""Similarity search over embedding columns (array<float>).

Two paths, same contract:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus, score with JVM higher-order functions, rank.
  The baseline and the verifier for the approximate paths.
- ``lsh_topk`` — random-hyperplane LSH: sign-bit signatures bucket the
  corpus; queries probe their bucket (plus multi-probe neighbors), exact
  re-rank inside the candidate set. At 10^10 vectors the bucket join is a
  key-equality shuffle and the re-rank touches ~corpus/2^bits per probe.
- ``ivf_topk`` — inverted-file variant: corpus assigned to nearest of K
  centroids (broadcast), queries probe ``n_probe`` nearest lists, exact
  re-rank inside the probed lists.

Everything is expression-only; scoring runs in whole-stage codegen.
Embedding near-duplicate detection (``embedding_neardup_pairs``) reuses the
same machinery with a threshold instead of top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark.functions.vectors import cosine_similarity, dot, normalize_vec  # noqa: F401
from etl_spark.operators.dedup import _perm_constants


def _unit(df: DataFrame, id_col: str, vec_col: str, out: str) -> DataFrame:
    """Project to (id_col, unit-normalized double vector). Normalizing ONCE
    per row turns every pairwise cosine into a plain dot product — at
    n x m pairs this removes two norms (incl. a sqrt) per pair. The norm is
    staged as its own column so it is computed once, not once per element."""
    return (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .withColumn(
            "__n",
            F.sqrt(F.aggregate("__v", F.lit(0.0), lambda acc, x: acc + x * x)),
        )
        # zero-norm guard: divide degenerate vectors by 1 instead of 0 so
        # they score cos=0 everywhere rather than null/NaN — the same
        # convention as the numpy paths (norms[norms == 0] = 1).
        .withColumn("__n", F.when(F.col("__n") == 0.0, F.lit(1.0)).otherwise(F.col("__n")))
        .select(
            id_col,
            F.transform("__v", lambda x: x / F.col("__n")).alias(out),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query row.

    Output: (query_id, vec_id, cos_sim, rank). Both sides are unit-
    normalized once up front (cosine -> dot, no per-pair norms); queries
    are broadcast so the corpus scan is one pass, no shuffle until the
    final per-query top-k (which AQE keeps tiny). Self-matches excluded."""
    qid = query_id_col or id_col
    q = _unit(queries, qid, vec_col, "_qv").withColumnRenamed(qid, "query_id")
    c = _unit(corpus, id_col, vec_col, "_cv")
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col(id_col)
    )
    scored = scored.select(
        "query_id",
        id_col,
        dot("_qv", "_cv").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_planes(dim: int, bits: int, n_tables: int, seed: int):
    """Deterministic (n_tables*bits, dim) float64 hyperplane matrix from the
    splitmix64 stream — identical on driver and every executor."""
    import numpy as np

    consts = _perm_constants(n_tables * bits * dim, seed)
    flat = np.array(
        [float((a % 2001) - 1000) for a, _ in consts], dtype=np.float64
    )
    return flat.reshape(n_tables * bits, dim)


def hyperplane_signatures_pandas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    n_tables: int,
    seed: int,
    unit_col: str = "_v",
) -> DataFrame:
    """(id, unit vector, array of n_tables packed signatures) via ONE
    Arrow-batched pandas UDF doing a BLAS matmul.

    Spark's higher-order functions (transform/aggregate/zip_with) are
    CodegenFallback — every lambda element is an interpreted expression
    eval, so bits x dim x n_tables per-element lambdas cost ~ms/row. The
    vectorized numpy path is the north-rule-mandated shape for exactly this
    stage and is 2-3 orders of magnitude faster."""
    import numpy as np

    from pyspark.sql import types as T

    planes = hyperplane_planes(dim, bits, n_tables, seed)
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField(unit_col, T.ArrayType(T.DoubleType())),
            T.StructField("_sigs", T.ArrayType(T.LongType())),
        ]
    )
    src = df.select(id_col, F.col(vec_col).cast("array<double>").alias("_vec"))

    def fn(batches):
        import pandas as pd

        weights = 1 << np.arange(bits, dtype=np.int64)
        for b in batches:
            if len(b) == 0:
                continue
            V = np.stack(b["_vec"].to_numpy()).astype(np.float64)   # (n, dim)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            U = V / norms
            S = (U @ planes.T) > 0                                  # (n, T*bits)
            S = S.reshape(len(U), n_tables, bits)
            packed = (S * weights).sum(axis=2).astype(np.int64)     # (n, T)
            yield pd.DataFrame(
                {id_col: b[id_col], unit_col: list(U), "_sigs": list(packed)}
            )

    # one parquet file = one partition would serialize the BLAS work
    par = df.sparkSession.sparkContext.defaultParallelism
    return src.repartition(par).mapInPandas(fn, out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 12,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent hyperplane tables; a
    query's candidates are the union of its buckets; exact cosine re-rank.
    Output schema matches ``brute_force_topk`` (+ recall depends on
    bits/tables)."""
    def with_sigs(df: DataFrame, name: str) -> DataFrame:
        out = hyperplane_signatures_pandas(
            df, id_col, vec_col, dim, bits, n_tables, seed, unit_col=f"_{name}_v"
        ).withColumnRenamed(id_col, name)
        return out.select(
            name, f"_{name}_v", F.posexplode("_sigs").alias("table", "sig")
        )

    cb = with_sigs(corpus, "cand_id")
    qb = with_sigs(queries, "query_id")
    cands = (
        qb.join(cb, on=["table", "sig"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "_query_id_v", "cand_id", "_cand_id_v")
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cands.select(
        "query_id",
        F.col("cand_id").alias(id_col),
        dot("_query_id_v", "_cand_id_v").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    sample_target: int = 50_000,
    kmeans_iters: int = 5,
    seed: int = 7,
    n_rows: int | None = None,
):
    """Spherical-kmeans centroids as an (n_lists, dim) float64 numpy matrix.

    Training data is a DETERMINISTIC hash sample of the corpus
    (``pmod(xxhash64(id), m) == 0``, m sized from the corpus row count so
    the driver collects ~``sample_target`` vectors regardless of scale —
    at 10^10 rows the sample, not the corpus, is what fits on the driver).
    Pass ``n_rows`` (from lake-table metadata / parquet footers — e.g.
    ``LakeTable.row_count()`` or ``sources.files.parquet_row_count``) to
    size the sample modulus WITHOUT a full-scan count action; only when
    it is omitted does training fall back to one ``corpus.count()``.
    Init picks ``n_lists`` splitmix64-shuffled sample rows; a few Lloyd
    iterations with cosine assignment follow (empty clusters re-seeded).
    The centroid matrix ships to executors inside mapInPandas closures —
    never as plan literals (an F.lit per element made the PLAN itself the
    bottleneck at realistic n_lists x dim)."""
    import numpy as np

    n = corpus.count() if n_rows is None else n_rows
    m = max(1, n // max(n_lists * 8, min(sample_target, n)))
    sample = (
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("_v"))
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0)
        .collect()
    )
    S = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in sample])
    norms = np.linalg.norm(S, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    S = S / norms
    n_lists = min(n_lists, len(S))
    # deterministic shuffle via splitmix64 sort keys
    order = np.argsort([_splitmix64_np(seed + i) for i in range(len(S))])
    C = S[order[:n_lists]].copy()
    for _ in range(kmeans_iters):
        assign = np.argmax(S @ C.T, axis=1)
        for j in range(n_lists):
            members = S[assign == j]
            if len(members) == 0:
                # re-seed an empty cluster from the farthest sample point
                C[j] = S[np.argmin(np.max(S @ C.T, axis=1))]
                continue
            c = members.sum(axis=0)
            nc = np.linalg.norm(c)
            C[j] = c / (nc if nc > 0 else 1.0)
    return C


def _splitmix64_np(seed: int) -> int:
    from etl_spark.operators.dedup import _splitmix64

    return _splitmix64(seed)


def _assign_lists_pandas(
    df: DataFrame, id_col: str, vec_col: str, out_name: str, centroids, n: int
) -> DataFrame:
    """(renamed id, unit vector, list_id) with the ``n`` nearest IVF lists
    per row — one BLAS matmul per Arrow batch against the closure-shipped
    centroid matrix, then an explode of the per-row top-n list ids."""
    import numpy as np

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(out_name, id_field.dataType),
            T.StructField(f"_{out_name}_v", T.ArrayType(T.DoubleType())),
            T.StructField("list_id", T.IntegerType()),
        ]
    )
    src = df.select(id_col, F.col(vec_col).cast("array<double>").alias("_vec"))
    C = centroids

    def fn(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            V = np.stack(b["_vec"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            U = V / norms
            sims = U @ C.T                                  # (rows, n_lists)
            nn = min(n, sims.shape[1])
            top = np.argpartition(-sims, nn - 1, axis=1)[:, :nn]
            rows = np.repeat(np.arange(len(U)), nn)
            yield pd.DataFrame(
                {
                    out_name: b[id_col].to_numpy()[rows],
                    f"_{out_name}_v": list(U[rows]),
                    "list_id": top.ravel().astype(np.int32),
                }
            )

    par = df.sparkSession.sparkContext.defaultParallelism
    return src.repartition(par).mapInPandas(fn, out_schema)


def cluster_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    sample_target: int = 50_000,
    kmeans_iters: int = 5,
    seed: int = 7,
    centroids=None,
    n_rows: int | None = None,
) -> DataFrame:
    """Topic clustering over an embedding column: spherical-kmeans
    centroids from a deterministic hash sample (``ivf_train_centroids``),
    then ONE mapInPandas assignment pass — a BLAS matmul per Arrow batch
    against the closure-shipped centroid matrix — emitting
    ``(id, cluster_id, sim)``. The training-data-pipeline stage for topic
    balancing / mixture re-weighting and cluster-then-dedup (semantic
    dedup runs exact near-dup INSIDE each cluster instead of globally).

    Scale shape: training collects only the hash sample; assignment is a
    single map-side pass (no shuffle, no driver state beyond the
    (n_clusters x dim) matrix). Train-once / assign-many: pass
    ``centroids`` to reuse a trained matrix across corpora/batches;
    ``n_rows`` avoids the full-scan count during training (see
    ``ivf_train_centroids``)."""
    import numpy as np

    from pyspark.sql import types as T

    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, id_col, vec_col, n_lists=n_clusters,
            sample_target=sample_target, kmeans_iters=kmeans_iters,
            seed=seed, n_rows=n_rows,
        )
    C = centroids
    id_field = corpus.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    src = corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("_vec"))

    def fn(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            V = np.stack(b["_vec"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = (V / norms) @ C.T
            yield pd.DataFrame(
                {
                    id_col: b[id_col].to_numpy(),
                    "cluster_id": np.argmax(sims, axis=1).astype(np.int32),
                    "sim": np.max(sims, axis=1),
                }
            )

    par = corpus.sparkSession.sparkContext.defaultParallelism
    return src.repartition(par).mapInPandas(fn, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    seed: int = 7,
    centroids=None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: spherical-kmeans centroids over a
    deterministic hash sample (``ivf_train_centroids``), corpus rows
    assigned to their nearest list and queries to their ``n_probe``
    nearest — both via numpy-matmul mapInPandas with the centroid matrix
    in the closure — then a key-equality join on ``list_id`` and exact
    cosine re-rank inside the probed lists.

    Train-once / probe-many: pass ``centroids`` (an
    ``ivf_train_centroids`` result) to reuse a trained index across
    queries instead of retraining per call; ``n_rows`` (footer/metadata
    row count) avoids the training sample's full-scan count."""
    C = (
        centroids
        if centroids is not None
        else ivf_train_centroids(
            corpus, id_col, vec_col, n_lists,
            kmeans_iters=kmeans_iters, seed=seed, n_rows=n_rows,
        )
    )
    cl = _assign_lists_pandas(corpus, id_col, vec_col, "cand_id", C, 1)
    ql = _assign_lists_pandas(queries, id_col, vec_col, "query_id", C, n_probe)
    scored = (
        ql.join(cl, on="list_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .dropDuplicates(["query_id", "cand_id"])
        .select(
            "query_id",
            F.col("cand_id").alias(id_col),
            dot("_query_id_v", "_cand_id_v").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_centroids: int = 256,
    sample_target: int = 50_000,
    kmeans_iters: int = 10,
    seed: int = 7,
    n_rows: int | None = None,
):
    """Product-quantization codebooks as an (m, k, dim/m) float64 array.

    The 10^10-vector MEMORY path: PQ stores each unit vector as ``m``
    uint8 centroid ids (8-16 bytes) instead of dim floats (hundreds) —
    the corpus-resident footprint drops ~50-100x, which is what makes an
    exhaustive asymmetric-distance scan feasible where raw vectors no
    longer fit the cluster. Training mirrors ``ivf_train_centroids``:
    deterministic hash sample -> unit-normalize -> per-subspace L2 Lloyd
    (init = splitmix64-shuffled sample rows, empty clusters re-seeded
    from the worst-quantized point). k is clamped to the sample size —
    at k >= distinct subvectors the quantizer is lossless on that data
    (the oracle hook for the `_full` config)."""
    import numpy as np

    n = corpus.count() if n_rows is None else n_rows
    mod = max(1, n // max(m * n_centroids, min(sample_target, n)))
    sample = (
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("_v"))
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
        .collect()
    )
    S = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in sample])
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    norms = np.linalg.norm(S, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    S = S / norms
    k = min(n_centroids, len(S))
    dsub = dim // m
    order = np.argsort([_splitmix64_np(seed + i) for i in range(len(S))])
    books = np.empty((m, k, dsub), dtype=np.float64)
    for s in range(m):
        X = S[:, s * dsub:(s + 1) * dsub]
        C = X[order[:k]].copy()
        for _ in range(kmeans_iters):
            # argmin ||x-c||^2 == argmax (x.c - ||c||^2/2)
            scores = X @ C.T - 0.5 * (C * C).sum(axis=1)
            assign = np.argmax(scores, axis=1)
            worst = np.argmin(np.max(scores, axis=1))
            for j in range(k):
                members = X[assign == j]
                C[j] = members.mean(axis=0) if len(members) else X[worst]
        books[s] = C
    return books


def _pq_code_dtype(k: int):
    """uint8 for the standard <=256-centroid subquantizer, uint16 beyond
    (the lossless `_full` config trains one centroid per corpus row) —
    the SAME rule must pick the dtype on encode and scan, so both derive
    it from the codebook shape."""
    import numpy as np

    if k > 65536:
        raise ValueError(f"n_centroids {k} exceeds uint16 code range")
    return np.uint8 if k <= 256 else np.uint16


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """(id, code) with code = the m centroid ids (uint8; uint16 when the
    codebook exceeds 256 entries) as a BINARY column
    — the persistable compressed index (write it to a lake table /
    parquet; ``pq_topk(codes=...)`` scans it instead of the raw
    vectors). One numpy pass per Arrow batch, codebooks in the closure."""
    import numpy as np

    from pyspark.sql import types as T

    B = codebooks
    m, _k, dsub = B.shape
    dtype = _pq_code_dtype(_k)
    id_field = corpus.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField(code_col, T.BinaryType()),
        ]
    )
    src = corpus.select(
        id_col, F.col(vec_col).cast("array<double>").alias("_vec")
    )
    half_c2 = 0.5 * (B * B).sum(axis=2)                      # (m, k)

    def fn(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            V = np.stack(b["_vec"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            U = V / norms
            codes = np.empty((len(U), m), dtype=dtype)
            for s in range(m):
                X = U[:, s * dsub:(s + 1) * dsub]
                codes[:, s] = np.argmax(
                    X @ B[s].T - half_c2[s], axis=1
                ).astype(dtype)
            yield pd.DataFrame(
                {
                    id_col: b[id_col].to_numpy(),
                    "pq": [c.tobytes() for c in codes],
                }
            ).rename(columns={"pq": code_col})

    par = corpus.sparkSession.sparkContext.defaultParallelism
    return src.repartition(par).mapInPandas(fn, out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    m: int = 8,
    n_centroids: int = 256,
    codebooks=None,
    codes: DataFrame | None = None,
    sample_target: int = 50_000,
    kmeans_iters: int = 10,
    seed: int = 7,
    n_rows: int | None = None,
    refine: int = 0,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC) over PQ codes.

    ``refine`` > k adds the standard exact re-rank stage (FAISS
    IndexRefine): the ADC scan shortlists ``refine`` candidates per
    query from the compressed codes alone, then ONLY those
    queries x refine rows fetch their raw vectors (key join against the
    corpus) for an exact cosine re-rank to k. Quantization error then
    costs recall only when a true neighbor falls outside the shortlist
    — the knob that trades a tiny exact-scoring join for recall without
    ever scanning raw vectors.

    Per query one (m, k) lookup table of subspace dot products is built
    driver-side (queries are a SMALL set by contract, same as
    ``brute_force_topk``'s broadcast) and shipped in the closure; the
    scan then scores each corpus row with m uint8 gathers + adds —
    never touching raw vectors. Each Arrow batch emits only its local
    per-query top-k, so the final shuffle carries O(batches x queries
    x k) rows regardless of corpus size. Output matches the family
    contract: (query_id, id, cos_sim, rank) where cos_sim is the ADC
    estimate (exact when the quantizer is lossless — the `_full`
    oracle config)."""
    import numpy as np

    from pyspark.sql import types as T

    qid = query_id_col or id_col
    B = (
        codebooks
        if codebooks is not None
        else pq_train_codebooks(
            corpus, id_col, vec_col, m, n_centroids,
            sample_target=sample_target, kmeans_iters=kmeans_iters,
            seed=seed, n_rows=n_rows,
        )
    )
    m_eff, _k_eff, dsub = B.shape
    enc = (
        codes
        if codes is not None
        else pq_encode(corpus, B, id_col, vec_col)
    )
    qrows = (
        queries.select(qid, F.col(vec_col).cast("array<double>").alias("_v"))
        .collect()
    )
    Q = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Q = Q / qn
    qids = [r[qid] for r in qrows]
    # (nq, m, k) subspace dot-product tables
    luts = np.stack(
        [Q[:, s * dsub:(s + 1) * dsub] @ B[s].T for s in range(m_eff)], axis=1
    )
    id_field = corpus.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField(id_col, id_field.dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    # plain strings only in the closure — a DataFrame reference would drag
    # the SparkContext into the pickled function (SPARK-5063)
    enc_id_col, code_col = enc.columns[0], enc.columns[-1]
    code_dtype = _pq_code_dtype(B.shape[1])
    shortlist_n = max(k, refine)  # each batch must feed the refine stage

    def fn(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            C = np.frombuffer(
                b"".join(b[code_col].to_numpy()), dtype=code_dtype
            ).reshape(len(b), m_eff)
            ids = b[enc_id_col].to_numpy()
            local_k = min(shortlist_n + 1, len(b))  # +1 absorbs a self-match
            for qi, qv in enumerate(qids):
                scores = luts[qi][0][C[:, 0]].copy()
                for s in range(1, m_eff):
                    scores += luts[qi][s][C[:, s]]
                top = np.argpartition(-scores, local_k - 1)[:local_k]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qv, local_k),
                        id_col: ids[top],
                        "cos_sim": scores[top],
                    }
                )

    scored = enc.mapInPandas(fn, out_schema).filter(
        F.col("query_id") != F.col(id_col)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    if refine > k:
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= refine)
            .select("query_id", id_col)
        )
        qv = (
            _unit(queries, qid, vec_col, "_qv")
            .withColumnRenamed(qid, "query_id")
        )
        cv = _unit(corpus, id_col, vec_col, "_cv")
        scored = (
            shortlist.join(cv, on=id_col)
            .join(F.broadcast(qv), on="query_id")
            .select("query_id", id_col, dot("_qv", "_cv").alias("cos_sim"))
        )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    blocked: bool = False,
    dim: int = 64,
    bits: int = 8,
    n_tables: int = 1,
    seed: int = 7,
    max_exact_rows: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold (id_a < id_b).

    Two regimes, by threshold:

    ``blocked=True`` — hyperplane LSH bucketing (``n_tables`` independent
    tables of ``bits`` sign bits; a pair is a candidate if it shares any
    table's full signature), exact scoring inside buckets. Sub-quadratic:
    the join is key-equality on (table, signature). Candidate volume per
    table ~ sum of bucket^2 ~ n^2 * (1 - theta/pi)^bits for the typical
    inter-pair angle theta — pruning is exponential in ``bits``, so this
    is THE 10^10-vector path for realistic dedup thresholds (>= ~0.8),
    where high ``bits`` keeps recall. At LOW thresholds (wide angles) sign
    bits stop discriminating and no LSH prunes; recall for a given
    (threshold, bits, n_tables) is P[miss] = (1 - (1-theta/pi)^bits)^T,
    asserted in tests.

    ``blocked=False`` — EXACT, as a tiled BLAS matmul: the unit-normalized
    corpus (n x d float64) is collected once and shipped in the
    ``mapInPandas`` closure; each partition multiplies its row block
    against the matrix (one dgemm per Arrow batch) and emits pairs over
    threshold. Quadratic FLOPs but vectorized and partition-parallel —
    2-3 orders faster than a crossJoin of interpreted per-element dots,
    and the only exact option at thresholds where LSH cannot prune.
    Bounded by ``max_exact_rows`` (n x d doubles must fit in every
    executor; at 10^10 vectors use ``blocked=True``)."""
    if blocked:
        sigs = hyperplane_signatures_pandas(
            df, id_col, vec_col, dim, bits, n_tables=n_tables, seed=seed
        )
        exploded = sigs.select(
            id_col, "_v", F.posexplode("_sigs").alias("_t", "_sig")
        )
        a = exploded.select(
            F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), "_t", "_sig"
        )
        b = exploded.select(
            F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), "_t", "_sig"
        )
        pairs = (
            a.join(b, on=["_t", "_sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        return (
            pairs.withColumn("cos_sim", dot("_va", "_vb"))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )

    import numpy as np

    from pyspark.sql import types as T

    src = df.select(id_col, F.col(vec_col).cast("array<double>").alias("_vec"))
    rows = src.limit(max_exact_rows + 1).collect()
    if len(rows) > max_exact_rows:
        raise ValueError(
            f"exact near-dup scan exceeds max_exact_rows={max_exact_rows}; "
            "use blocked=True at this scale"
        )
    # keep the ids' native dtype (numpy infers int64/str/object): the
    # id_a < id_b mask below works elementwise for any orderable id type,
    # matching the out_schema's advertised id_field.dataType — forcing
    # int64 would crash/misbehave on string ids.
    ids = np.array([r[id_col] for r in rows])
    M = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in rows])
    # the matrix ships inside the UDF closure to every python worker —
    # bound it by BYTES, not rows (1M rows x 768 dims would be 6 GB)
    if M.nbytes > 512 * 1024 * 1024:
        raise ValueError(
            f"exact near-dup matrix is {M.nbytes >> 20} MiB "
            f"({M.shape[0]} x {M.shape[1]} float64) — too large to ship to "
            "executors; use blocked=True (LSH) at this scale"
        )
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    M = M / norms
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            V = np.stack(b["_vec"].to_numpy()).astype(np.float64)
            bn = np.linalg.norm(V, axis=1, keepdims=True)
            bn[bn == 0.0] = 1.0
            V = V / bn
            bids = b[id_col].to_numpy()
            S = V @ M.T                          # (batch, n) — one dgemm
            # id_a < id_b ordering dedups the symmetric matrix
            mask = (S >= threshold) & (bids[:, None] < ids[None, :])
            bi, ci = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": bids[bi], "id_b": ids[ci], "cos_sim": S[bi, ci]}
            )

    # spread the row blocks across cores — the corpus often arrives as one
    # parquet file = one partition, which would serialize the matmul
    par = src.sparkSession.sparkContext.defaultParallelism
    return src.repartition(par).mapInPandas(fn, out_schema)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
    centroids=None,
    n_rows: int | None = None,
    max_cluster_rows: int = 2_000_000,
    sim_decimals: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    corpus by embedding, run EXACT cosine near-dup only WITHIN each
    cluster, and keep one representative per duplicate relation.
    Returns the SURVIVING ``(id, cluster_id)`` rows — every id with no
    within-cluster duplicate of smaller id (the deterministic
    "keep-first" variant of the paper's keeper rule, so the result is a
    pure function of the input).

    Scale shape: the quadratic is bounded per cluster — n_i^2 instead
    of n^2 global, the whole point of cluster-then-dedup. One
    assignment pass carries the vector along (mapInPandas, BLAS argmax
    against the closure-shipped centroid matrix — no join back to the
    corpus), then ONE shuffle by cluster_id feeds a grouped
    ``applyInPandas`` stage that runs a tiled unit-normalized
    ``U @ U.T`` per cluster (~64 MiB tiles) and drops rows dominated by
    a smaller id. A cluster past ``max_cluster_rows`` raises with
    instructions (raise ``n_clusters``; the paper uses n/k ~ 1e4-1e5).
    Train-once / dedup-many: pass ``centroids`` to pin the clustering
    (also what makes the fixed-centroid oracle entry bit-exact).
    ``sim_decimals`` rounds each cosine before thresholding so an
    independent re-implementation (the DuckDB oracle) thresholding the
    same rounded value cannot flip a near-threshold pair on ulp-level
    BLAS-vs-scalar divergence — the repo's float-parity discipline."""
    import numpy as np

    from pyspark.sql import types as T

    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, id_col, vec_col, n_lists=n_clusters, n_rows=n_rows
        )
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    cn[cn == 0.0] = 1.0
    C = C / cn
    id_field = corpus.schema[id_col]
    mid_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("_vec", T.ArrayType(T.DoubleType())),
        ]
    )
    src = corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("_vec"))

    def assign(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            M = np.stack(b["_vec"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            cl = ((M / nrm) @ C.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame(
                {id_col: b[id_col], "cluster_id": cl, "_vec": b["_vec"]}
            )

    assigned = src.mapInPandas(assign, mid_schema)
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("cluster_id", T.IntegerType()),
        ]
    )
    thr = float(threshold)
    cap = int(max_cluster_rows)
    dec = None if sim_decimals is None else int(sim_decimals)

    def dedup_cluster(pdf):
        import pandas as pd

        n = len(pdf)
        if n == 0:
            return pd.DataFrame({id_col: [], "cluster_id": []})
        if n > cap:
            raise ValueError(
                f"semantic_dedup cluster has {n} rows > max_cluster_rows="
                f"{cap}: raise n_clusters so the per-cluster quadratic "
                "stays bounded (SemDeDup uses n/k ~ 1e4-1e5)"
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        ids = pdf[id_col].to_numpy()
        M = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        U = M / nrm
        victim = np.zeros(n, dtype=bool)
        step = max(1, (64 << 20) // max(1, n * 8))
        rows = np.arange(n)[:, None]
        for j0 in range(0, n, step):
            j1 = min(n, j0 + step)
            S = U @ U[j0:j1].T
            if dec is not None:
                S = np.round(S, dec)
            hit = (S >= thr) & (rows < np.arange(j0, j1)[None, :])
            victim[j0:j1] |= hit.any(axis=0)
        keep = ~victim
        return pd.DataFrame(
            {
                id_col: ids[keep],
                "cluster_id": pdf["cluster_id"].to_numpy()[keep],
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        dedup_cluster, out_schema
    )
