"""Chunk-level retrieval indexing — the RAG / eval-retrieval side of
the training-data pipeline: split documents into overlapping chunks
(:mod:`.chunking`), embed each chunk, search queries against the chunk
index, and max-pool chunk hits back to document hits.

The embedder is a **pluggable seam**, the same pattern as
:mod:`.scoring`'s quality classifier and :mod:`.multimodal`'s codec:
the Spark-side plumbing (chunk grid, embedding column, broadcast
query join, chunk→doc pooling) is real and tested; a deployment drops
in a real model via ``batch_embedder`` (Arrow-batched ``mapInPandas``
— model inference is embarrassingly parallel per batch, zero
shuffle).  The built-in ``'hashed'`` embedder is a deterministic
signed bag-of-hashed-words projection — NOT a semantic model, but a
pure whole-stage-codegen expression that is bit-reproducible in SQL,
so the whole index+search pipeline is oracle-checkable end to end
(the :mod:`.scoring` discipline).

Plan shape at 100 TB: chunking + embedding are narrow map-side work;
search broadcasts the (small) query set against the chunk index, so
the corpus never shuffles for the join — only the (query_id, doc_id)
max-pool and the per-query top-k aggregate move data, both map-side
combinable.  For corpora where brute force is too hot, the same index
feeds :mod:`.similarity`'s LSH / IVF bucketed paths unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ingest.streaming import guarded_batch
from .chunking import chunk_documents
from .dedup import dot_product, l2_normalize


def hashed_embedding(text_col: Column, dim: int = 16) -> Column:
    """Deterministic signed bag-of-hashed-words embedding, SQL-portable:
    token ``t`` adds ±1 (sign from md5 hex 9..10) to dimension
    ``conv(md5(t)[1..8], 16, 10) % dim``; component ``dim`` (one past
    the hashed range) is a constant 1 bias so no vector has zero norm
    (cosine stays defined in every engine).  All JVM-side higher-order
    functions — zero Python in the hot path."""
    toks = F.filter(
        F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    # hash each token ONCE (md5 is the per-token cost; the per-dim
    # pass below must not re-derive it dim× per token), then reduce
    # (d, s) pairs per dimension — O(n·dim) cheap adds, O(n) hashes
    tok_ds = F.transform(
        F.transform(toks, lambda t: F.md5(t)),
        lambda h: F.struct(
            (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % dim).alias("d"),
            F.when(
                F.conv(F.substring(h, 9, 2), 16, 10).cast("bigint") % 2 == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)).alias("s"),
        ),
    )
    # ONE aggregate pass with an array accumulator.  NOT one aggregate
    # per dimension: CollapseProject re-inlines `tok_ds` into every
    # per-dim lambda, recomputing the md5 pass dim× — measured 75 s vs
    # 7.7 s for this form on a 69k-chunk corpus (tools/
    # scale_rehearsal_round6s5.py's shape).  ±1 contributions commute
    # exactly (integer sums), so accumulation order is value-neutral.
    body = F.aggregate(
        tok_ds,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, e: F.transform(
            acc, lambda v, i: v + F.when(e["d"] == i, e["s"]).otherwise(F.lit(0.0))
        ),
    )
    return F.concat(body, F.array(F.lit(1.0)))


def build_chunk_index(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_embedder=None,
    keep_text: bool = False,
    bucket_planes: int | None = None,
) -> DataFrame:
    """Chunk + embed: ``(id_col, chunk_idx, n_tok, embedding[, chunk_text]
    [, bucket])``.

    ``batch_embedder``: ``Callable[[list[str]], np.ndarray (n, d)]`` —
    the real-model hook, run through Arrow-batched ``mapInPandas``;
    default is the SQL-portable hashed embedder.  ``bucket_planes``
    persists the LSH bucket column with the index (one pass at build
    time) — measured to be what makes :func:`doc_search_lsh` beat the
    linear scan (SCALE.md: per-query-run bucket assignment costs more
    than the cosine work it saves)."""
    chunks = chunk_documents(docs, size=size, stride=stride, text_col=text_col, id_col=id_col)
    if batch_embedder is None:
        out = chunks.withColumn(
            "embedding", hashed_embedding(F.col("chunk_text"), dim)
        )
    else:
        import pandas as pd

        def run(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                vecs = batch_embedder(pdf["chunk_text"].tolist())
                pdf = pdf.copy()
                pdf["embedding"] = [list(map(float, v)) for v in vecs]
                yield pdf

        out = chunks.mapInPandas(
            run,
            schema=f"{id_col} long, chunk_idx int, start_tok int, n_tok int, "
            "chunk_text string, embedding array<double>",
        )
    cols = [id_col, "chunk_idx", "n_tok", "embedding"]
    if keep_text:
        cols.insert(3, "chunk_text")
    out = out.select(*cols)
    if bucket_planes is not None:
        from .similarity import rademacher_bucket_jvm

        # the plane count rides the column's METADATA (schema-only, no
        # data change, survives cache and parquet round-trips):
        # doc_search_lsh refuses to trust a persisted bucket column
        # built with a DIFFERENT plane count — mismatched bucket
        # spaces would silently produce near-zero recall (ADVICE r16).
        out = out.select(
            "*",
            rademacher_bucket_jvm(F.col("embedding"), dim + 1, bucket_planes)
            .alias("bucket", metadata={"planes": int(bucket_planes)}),
        )
    return out


def doc_search(
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    engine: str = "blas",
) -> DataFrame:
    """Search the chunk index, max-pooling chunk similarity per
    document: ``(query_id, doc_id, best_sim, rank)``, top ``k``
    documents per query by best-matching chunk (ties → doc_id asc).

    Two engines, verified value-identical (the similarity.py twin
    discipline — exact-integer components make the cosine independent
    of summation order, so BLAS vs fold cannot differ even in ulps):

    - ``'blas'`` (default): the query matrix is collected once and
      closed over; each ``mapInPandas`` batch scores batch × queries
      in one matmul and PARTIAL-max-pools per document before the
      shuffle — the index never shuffles for scoring, and the shuffle
      carries ≤ |docs in batch|·|queries| pooled rows.  ~10× the HOF
      engine's scoring rate (see SCALE.md).
    - ``'hof'``: pure JVM higher-order functions, zero Python — the
      declarative reference form the oracle mirrors.
    """
    if engine == "blas":
        return _doc_search_blas(index, queries, k, id_col, query_id_col, vec_col)
    if engine != "hof":
        raise ValueError(f"unknown engine {engine!r}")
    c = index.select(
        F.col(id_col), l2_normalize(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(query_id_col), l2_normalize(F.col(vec_col)).alias("qv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(dot_product(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    pooled = scored.groupBy(query_id_col, id_col).agg(
        F.max("cos_sim").alias("best_sim")
    )
    return _rank_pooled(pooled, k, id_col, query_id_col)


def _rank_pooled(pooled: DataFrame, k: int, id_col: str, query_id_col: str) -> DataFrame:
    w = Window.partitionBy(query_id_col).orderBy(F.desc("best_sim"), F.col(id_col))
    return (
        pooled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "best_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _doc_search_blas(
    index: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    import numpy as np
    import pandas as pd

    # id dtypes follow the input schemas (ADVICE r6: string/UUID doc
    # ids must work on the default engine, not only on 'hof')
    it = dict(index.dtypes)[id_col]
    qrows = queries.select(query_id_col, vec_col).collect()
    if not qrows:
        qt0 = dict(queries.dtypes)[query_id_col]
        return index.sparkSession.createDataFrame(
            [], f"{query_id_col} {qt0}, {id_col} {it}, best_sim double, rank bigint"
        )
    qids = np.array([r[0] for r in qrows])
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0] = 1.0
    qm = qm / qn[:, None]

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = np.round((m / norms[:, None]) @ qm.T, 6)  # (chunks, q)
            # partial max-pool per doc BEFORE the shuffle
            df = pd.DataFrame(sims, columns=range(len(qids)))
            df[id_col] = ids
            pooled = df.groupby(id_col, sort=False).max()
            n = len(pooled)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qids, n),
                    id_col: np.tile(pooled.index.to_numpy(), len(qids)),
                    "best_sim": np.concatenate(
                        [pooled[j].to_numpy() for j in range(len(qids))]
                    ),
                }
            )

    qt = dict(queries.dtypes)[query_id_col]
    partial = index.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} {qt}, {id_col} {it}, best_sim double"
    )
    pooled = partial.groupBy(query_id_col, id_col).agg(
        F.max("best_sim").alias("best_sim")
    )
    return _rank_pooled(pooled, k, id_col, query_id_col)


def doc_search_lsh(
    index: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 2,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The retrieval family's bucketed scale path: LSH-bucket the
    chunk index once (engine-exact Rademacher integer projection —
    `similarity.rademacher_bucket`), probe each query's bucket plus
    ``n_probes − 1`` one-bit-flip neighbors, cosine only the matched
    chunk candidates, then max-pool to documents and rank.

    Same output schema as :func:`doc_search`; approximate — a document
    is missed only if NONE of its chunks shares a probed bucket with
    the query (recall floor asserted in tests).  At 100 TB the bucket
    column is computed once and persisted with the index; the
    candidate join is a plain equi-join on (bucket), never a scan of
    the corpus per query."""
    from .dedup import cosine_sim
    from .similarity import rademacher_bucket_jvm

    # the JVM bucket twin: the index's vector column is a lambda
    # expression downstream of a generator, where Python-UDF
    # extraction fails — the literal-sign HOF form evaluates anywhere.
    # A pre-bucketed index (build_chunk_index(bucket_planes=…)) skips
    # the assignment entirely — the measured requirement for the
    # bucketed path to beat the linear scan (SCALE.md).  The column is
    # trusted ONLY when its metadata records the same plane count the
    # queries are bucketed with (ADVICE r16 medium): a caller probing
    # with n_planes=8 against an index built with bucket_planes=6
    # would otherwise compare disjoint bucket spaces and silently lose
    # recall.  Unknown or mismatched plane counts re-bucket from the
    # vectors — correctness over the persisted fast path.
    pre_bucketed = (
        "bucket" in index.columns
        and index.schema["bucket"].metadata.get("planes") == n_planes
    )
    if pre_bucketed:
        c = index.select(
            F.col(id_col), F.col(vec_col).alias("cv"), "bucket"
        )
    else:
        c = index.select(
            F.col(id_col),
            F.col(vec_col).alias("cv"),
            rademacher_bucket_jvm(F.col(vec_col), dim + 1, n_planes).alias("bucket"),
        )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qv"),
        rademacher_bucket_jvm(F.col(vec_col), dim + 1, n_planes).alias("bucket0"),
    )
    probes = F.array(
        F.col("bucket0"),
        *[
            F.col("bucket0").bitwiseXOR(F.lit(1 << i))
            for i in range(min(max(n_probes - 1, 0), n_planes))
        ],
    )
    q = q.select(query_id_col, "qv", F.explode(probes).alias("bucket"))
    sim = F.round(cosine_sim(F.col("qv"), F.col("cv")), 6)
    # r16 (guide §3.1): broadcast the (tiny, exploded-probe) query side
    # — the planner was broadcasting the CORPUS chunk index instead
    # (dp32 plan: BuildRight over every chunk vector), an inversion of
    # the at-scale contract where the index streams and only probes ship.
    # HARD LIMIT (ADVICE r16): |queries| × n_probes embedding rows must
    # fit a broadcast relation (8 GB / 512M-row Spark cap, plus driver
    # + per-executor copies); larger query sets are the caller's job to
    # slice into broadcast-sized batches (guide §8.4).
    pooled = (
        F.broadcast(q).join(c, "bucket")
        .select(query_id_col, id_col, sim.alias("cos_sim"))
        .groupBy(query_id_col, id_col)
        .agg(F.max("cos_sim").alias("best_sim"))
    )
    return _rank_pooled(pooled, k, id_col, query_id_col)


# ---- incremental index maintenance --------------------------------------
# The retrieval twin of the incremental dedup family: new documents
# stream in, each micro-batch appends its chunk vectors to the
# persisted index; history is never re-chunked or re-embedded
# (chunking/embedding are per-document pure, so batch boundaries
# cannot change any vector).  Exactly-once by per-batch-directory
# overwrite — the streaming_curation.py discipline.


def index_stream_sink(index_root: str, size: int = 64, stride: int = 48,
                      dim: int = 16, text_col: str = "text",
                      id_col: str = "doc_id", batch_embedder=None,
                      bucket_planes: int | None = None):
    """``foreachBatch`` sink: chunk+embed THIS batch's documents and
    write them to ``<index_root>/b<batch_id>`` (overwrite = idempotent
    crash replay).  ``bucket_planes`` persists the LSH bucket column
    with each increment — REQUIRED for a maintained index to stay on
    :func:`doc_search_lsh`'s fast path (SCALE.md measured per-search
    bucket assignment to cost more than the cosine work it saves).
    Each batch is evaluated once and an empty batch writes nothing
    (:func:`..ingest.streaming.guarded_batch`)."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        build_chunk_index(
            batch, size=size, stride=stride, dim=dim,
            text_col=text_col, id_col=id_col, batch_embedder=batch_embedder,
            bucket_planes=bucket_planes,
        ).write.mode("overwrite").parquet(f"{index_root}/b{int(batch_id)}")

    return guarded_batch(_sink)


def read_chunk_index(spark, index_root: str) -> DataFrame:
    """The queryable index: union of every batch's chunk vectors."""
    return spark.read.parquet(f"{index_root}/b*")
