"""Similarity search over embedding columns (OP-X-SIM, SURVEY.md §2.5).

Three paths over `embeddings (vec_id, embedding array<float>, label)`:

- **brute-force top-k** (the correctness baseline): broadcast the query set,
  cross-join against the corpus, dot/norm via ``zip_with``/``aggregate`` —
  all JVM lambda functions, no Python. O(|Q|·N·d) but embarrassingly
  parallel: the corpus never shuffles, queries are broadcast, and the only
  shuffle is the final per-query top-k (tiny). This is exactly the shape
  that survives 100 TB — scoring is map-side; cap |Q| per pass.
- **LSH-bucketed top-k** (the scale path): random-hyperplane signatures
  (seeded, deterministic) bucket the corpus once; each query probes only its
  bucket neighborhood (Hamming <= probe_radius), turning O(N) per query into
  O(N / 2^bits · probed_buckets). Approximate — recall measured in tests
  against brute force.
- **pandas_udf scoring** (OP-X-UDF-SURFACE): the same brute-force semantics
  with Arrow-batched numpy scoring — demonstrates the vectorized Python
  escape hatch for kernels Spark can't express (real multimodal encoders).

Outputs are (query_id, neighbor_id, rank) — ranks, not raw float scores, so
results compare exactly across engines (adjacent similarities differ ~1e-3
here; cross-engine float noise is ~1e-12)."""

from __future__ import annotations

import random
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import cache_shared

EMBED_DIM = 64


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def normalized(emb_col):
    """L2-normalized double array — pre-normalizing turns pairwise cosine
    into a bare dot product (halves the per-pair flops in self-joins).

    Column form: only safe where the input column is already a bound
    attribute; prefer :func:`normalized_vectors`, which binds the norm once
    per row — an inline ``transform(d, x -> x / norm(d))`` re-runs the norm
    aggregate for EVERY element (O(d²) interpreted-lambda work per row)."""
    d = _as_double(emb_col)
    return F.transform(d, lambda x: x / _norm(d))


def normalized_vectors(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    out: str = "ne",
) -> DataFrame:
    """(id, L2-normalized embedding) with the norm computed ONCE per row:
    the doubled array and its norm are materialized as plain columns first,
    so the element-wise divide references a bound attribute instead of
    re-evaluating the norm aggregate per element (measured ~d× faster).

    Zero-norm rows are DROPPED (ADVICE r07, the assignment-side twin of
    _train_centroids' guard): cosine is undefined for the zero vector, and
    0/0 would otherwise seed NaN into every downstream dot product — NaN
    scores sort unpredictably across engines, silently corrupting top-k
    and threshold comparisons instead of failing loudly."""
    return (
        embeddings.select(id_col, _as_double(F.col(emb_col)).alias("_d"))
        .withColumn("_nrm", _norm(F.col("_d")))
        .filter(F.col("_nrm") > 0)
        .select(
            id_col,
            F.transform(F.col("_d"), lambda x: x / F.col("_nrm")).alias(out),
        )
    )


def with_cosine(scored: DataFrame, q_col: str = "qe", e_col: str = "e") -> DataFrame:
    """Score candidate pairs with exact cosine. Zero-norm rows on EITHER
    side are DROPPED (ADVICE r08: the shared convention with
    :func:`normalized_vectors` — cosine is undefined for the zero vector,
    and 0/0 would seed NaN scores that sort unpredictably across engines).
    Every cosine path — brute force, LSH rescore, PQ rerank — goes through
    this one scorer, so the convention cannot drift per path. Binding the
    norms as columns first also computes each norm aggregate once instead
    of re-evaluating it inside the divide."""
    qd, ed = _as_double(F.col(q_col)), _as_double(F.col(e_col))
    return (
        scored.withColumn("_qn", _norm(qd))
        .withColumn("_en", _norm(ed))
        .filter((F.col("_qn") > 0) & (F.col("_en") > 0))
        .withColumn("cosine", _dot(qd, ed) / (F.col("_qn") * F.col("_en")))
        .drop("_qn", "_en")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def brute_force_topk(
    embeddings: DataFrame, num_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: queries = vec_id < num_queries (self excluded).

    The double cast and the norm are bound per SIDE before the crossJoin
    (guide §1.2 — don't recompute per pair what is constant per row): the
    per-pair work drops from three interpreted HOF aggregates plus three
    array casts (with_cosine's in-pair form) to ONE dot product over
    pre-cast arrays. Same expressions over the same values in the same
    fold order, so every score is bit-identical to the with_cosine form,
    and the per-side zero-norm filter drops exactly the pairs with_cosine
    drops (its convention: cosine undefined for the zero vector)."""
    q = (
        embeddings.filter(F.col("vec_id") < num_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qe"),
        )
        .withColumn("_qn", _norm(F.col("qe")))
        .filter(F.col("_qn") > 0)
    )
    scored = (
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double(F.col("embedding")).alias("e"),
        )
        .withColumn("_en", _norm(F.col("e")))
        .filter(F.col("_en") > 0)
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qe"), F.col("e")) / (F.col("_qn") * F.col("_en")),
        )
    )
    return _rank_topk(scored, k)


def _hyperplanes(bits: int, dim: int = EMBED_DIM, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_signature_col(emb_col, planes: list[list[float]]):
    """Random-hyperplane signature: bit i = sign(embedding · plane_i).

    Built as ONE generated-SQL expression: the per-op Column form issued
    ~1000 py4j round-trips per call site (64 plane literals × bits, plus
    lambda plumbing) ≈ 1 s of driver time each — the SQL string is a
    single round-trip for an identical Catalyst tree (repr() of a Python
    float is the shortest correctly-rounded round-trip form, and Spark's
    double-literal parse is correctly rounded too, so every plane
    coefficient is bit-exact).

    The SQL fast path needs a SIMPLE COLUMN NAME to splice into the
    string; any other Column (a computed expression, a Connect column
    with no _jc) takes the equivalent per-op Column build below — same
    tree, just the slower construction (round-15 review finding: the
    _jc debug string of a non-trivial Column is not valid SQL). A name
    that is not a bare identifier (dots, spaces, backticks, reserved
    words with symbols) also routes to the Column build — splicing it
    raw would generate invalid SQL or resolve the wrong column
    (ADVICE r15)."""
    if isinstance(emb_col, str) and re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", emb_col
    ):
        terms = []
        for i, plane in enumerate(planes):
            arr = ", ".join(f"{v!r}D" for v in plane)
            dot = (
                f"aggregate(zip_with(transform({emb_col}, "
                f"x -> cast(x as double)), "
                f"array({arr}), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            )
            terms.append(
                f"shiftleft(cast(case when {dot} > 0 then 1 else 0 end "
                f"as bigint), {i})"
            )
        return F.expr(" | ".join(terms))
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                _as_double(emb_col),
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.shiftleft(
                F.when(d > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i
            )
        )
    return sig


def multi_table_planes(
    num_tables: int, bits_per_table: int, dim: int = EMBED_DIM, seed_base: int = 1000
):
    """The (num_tables·bits_per_table, dim) hyperplane matrix shared by
    every multi-table signature implementation (seeds fixed per table)."""
    import numpy as np

    return np.array(
        [
            _hyperplanes(bits_per_table, dim=dim, seed=seed_base + t)
            for t in range(num_tables)
        ],
        dtype=np.float64,
    ).reshape(num_tables * bits_per_table, dim)


def pair_dot_udf():
    """Vectorized pairwise dot product over two array columns (pandas_udf).

    For verifying candidate pairs in bulk: the JVM ``aggregate``/``zip_with``
    form runs ~2·d interpreted lambda steps per pair, which dominates once
    candidates reach ~10⁵; one numpy einsum per Arrow batch doesn't."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: no type hints — `from __future__ import annotations` makes them
    # strings that pyspark resolves from module globals only, and pd is
    # local here; unhinted, pandas_udf defaults to SCALAR
    @pandas_udf("double")
    def dots(e1, e2):
        a = np.array(e1.tolist(), dtype=np.float64)
        b = np.array(e2.tolist(), dtype=np.float64)
        return pd.Series(np.einsum("ij,ij->i", a, b))

    return dots


def lsh_bucketed_topk(
    embeddings: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    bits: int = 8,
    probe_radius: int = 3,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose LSH signature is
    within ``probe_radius`` bits of the query's signature."""
    planes = _hyperplanes(bits)
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e"),
        lsh_signature_col("embedding", planes).alias("sig_e"),
    )
    q = embeddings.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        lsh_signature_col("embedding", planes).alias("sig_q"),
    )
    candidates = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(
            F.bit_count(F.col("sig_e").bitwiseXOR(F.col("sig_q"))) <= probe_radius
        )
    )
    return _rank_topk(with_cosine(candidates), k)


def _train_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    sample_cap: int = 2048,
    iters: int = 5,
    seed: int = 42,
):
    """FAISS-style IVF training: k-means on a small *driver-side* sample.

    Training on a bounded sample is the standard ANN-index recipe — the
    sample (<= sample_cap rows) is collected once, clustered with a few
    seeded Lloyd iterations in numpy, and the resulting centroid matrix is
    tiny (n_centroids × dim) regardless of corpus size, so this step costs
    the same at 100 TB as at 100 MB. Returns a unit-normalized ndarray."""
    import numpy as np

    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_cap)
        .collect()
    )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # zero-norm guard (ADVICE r07 #2): a zero vector would put NaN into
    # one centroid and poison every assignment dot product
    x = x[np.linalg.norm(x, axis=1) > 0]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
        cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    return cent


def _centroids_df(spark, cent) -> DataFrame:
    return spark.createDataFrame(
        [(int(j), [float(v) for v in c]) for j, c in enumerate(cent)],
        "centroid_id int, ce array<double>",
    )


def assign_cells(normed: DataFrame, cdf: DataFrame, cent=None) -> DataFrame:
    """Nearest-centroid cell assignment, shared by ivf_topk and
    dedup.semantic_near_dup_pairs so the assignment semantics (and any
    fix to them) live in ONE place. Returns (vec_id, cell, ne).

    When the caller has the centroid matrix in hand (``cent``, the
    ndarray _train_centroids returned — both in-repo callers do), the
    assignment is ONE numpy argmax per Arrow batch: no crossJoin, no
    max_by shuffle, the corpus never leaves its scan partitioning
    (guide §4.2 — batch kernels over interpreted per-pair expressions;
    the old shape evaluated n_centroids interpreted HOF dot products
    per vector and re-aggregated 16 rows per vec_id). numpy argmax
    takes the FIRST maximum, which is exactly the lowest-centroid_id
    tie-break of the struct form (ADVICE r07 #1): duplicate/collapsed
    centroids produce bit-equal scores in either engine, and non-tied
    scores are far outside either engine's rounding.

    The DataFrame path (``cent=None``) stays for callers that only
    hold the centroid TABLE: broadcast crossJoin + one max_by hash-agg."""
    if cent is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        c_t = np.ascontiguousarray(cent, dtype=np.float64).T

        # NB: no type hints — they would have to resolve from module
        # globals (see dots); unhinted, pandas_udf defaults to SCALAR
        @pandas_udf("int")
        def _cell(ne):
            x = np.array(ne.tolist(), dtype=np.float64)
            return pd.Series(np.argmax(x @ c_t, axis=1).astype("int32"))

        return normed.select("vec_id", _cell("ne").alias("cell"), "ne")
    return (
        normed.crossJoin(F.broadcast(cdf))
        .withColumn("score", _dot(F.col("ne"), F.col("ce")))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("score"), -F.col("centroid_id")),
            ).alias("cell"),
            F.first("ne").alias("ne"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is partitioned into
    ``n_centroids`` Voronoi cells; each query scores only the cells of its
    ``nprobe`` nearest centroids.

    All distributed steps are DataFrame ops: cell assignment is a broadcast
    join against the (tiny) centroid table + one max_by hash-agg — the
    corpus is scanned once and never shuffled by more than its cell id.
    Expected work per query drops from O(N) to O(N · nprobe / n_centroids).
    Approximate: recall vs brute force is measured in tests."""
    spark = embeddings.sparkSession
    cent = _train_centroids(embeddings, n_centroids)
    cdf = _centroids_df(spark, cent)

    normed = normalized_vectors(embeddings)
    # measured (r16 paired A/B, runs=5): the numpy-argmax assignment
    # REGRESSES this query (3.02 -> 4.30 s) — the Arrow round-trip of
    # (vec_id, ne) costs more than the interpreted crossJoin+max_by
    # here, where the agg exchange also feeds the candidate join.
    # semantic_near_dup_pairs keeps the cent= kernel (2.57 -> 1.68 s:
    # its next op is a groupBy(cell) shuffle, so the max_by exchange
    # was pure overhead). Keep the DataFrame path for ivf.
    assigned = assign_cells(normed, cdf)
    q = (
        normed.filter(F.col("vec_id") < num_queries)
        .crossJoin(F.broadcast(cdf))
        .withColumn("score", _dot(F.col("ne"), F.col("ce")))
    )
    qw = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("centroid_id"))
    probes = (
        q.withColumn("r", F.row_number().over(qw))
        .filter(F.col("r") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("ne").alias("qe"),
            F.col("centroid_id").alias("cell"),
        )
    )
    scored = (
        assigned.select(F.col("vec_id").alias("neighbor_id"), "cell", F.col("ne").alias("e"))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qe"), F.col("e")))
    )
    return _rank_topk(scored, k)


def pandas_cosine_topk(
    embeddings: DataFrame, num_queries: int = 10, k: int = 5
) -> DataFrame:
    """Brute-force top-k with Arrow-batched numpy scoring (pandas_udf).

    The query matrix is captured in the UDF closure (it is small — this is
    the broadcast); each Arrow batch of corpus vectors is scored as one
    matrix multiply. This is the pattern for Python-only kernels; for plain
    cosine the JVM path (brute_force_topk) is preferred."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qrows = (
        embeddings.filter(F.col("vec_id") < num_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    # zero-norm convention (ADVICE r08, same as with_cosine /
    # normalized_vectors): zero-norm queries are dropped here, zero-norm
    # corpus rows are marked NaN in the UDF and filtered below — every
    # cosine path agrees that the zero vector participates in nothing
    q_keep = [
        (r["vec_id"], r["embedding"])
        for r in qrows
        if any(v != 0 for v in r["embedding"])
    ]
    q_ids = [i for i, _ in q_keep]
    q_mat = np.array([e for _, e in q_keep], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    # NB: no type hints — `from __future__ import annotations` makes them
    # strings that pyspark resolves from module globals only, and pd is
    # local here; unhinted, pandas_udf defaults to SCALAR
    @pandas_udf("array<double>")
    def cosines(batch):
        m = np.array(batch.tolist(), dtype=np.float64)
        n = np.linalg.norm(m, axis=1, keepdims=True)
        m = np.divide(m, n, out=np.zeros_like(m), where=n > 0)
        sims = m @ q_mat.T  # (batch, |Q|)
        sims[n[:, 0] == 0] = np.nan
        return pd.Series(list(sims))

    scored = (
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"), cosines("embedding").alias("cs")
        )
        .select(
            "neighbor_id",
            F.posexplode("cs").alias("q_idx", "cosine"),
        )
        .withColumn(
            "query_id",
            F.element_at(F.array(*[F.lit(i) for i in q_ids]), F.col("q_idx") + 1),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(~F.isnan("cosine"))
    )
    return _rank_topk(scored, k)


def _train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 16,
    k: int = 64,
    sample_cap: int = 2048,
    iters: int = 5,
    seed: int = 7,
):
    """FAISS-style PQ training: per-subspace k-means on a bounded
    driver-side sample (same constant-cost rationale as _train_centroids).
    Returns ``(books, rows)``: an (m, k, d/m) ndarray of sub-codebooks over
    L2-normalized vectors, plus the collected sample rows (vec_id asc) so
    callers needing a driver-side query matrix can reuse the sample
    instead of running a second collect job (see _pq_scored)."""
    import numpy as np

    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_cap)
        .collect()
    )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    d = x.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cent = xs[rng.choice(len(xs), size=min(k, len(xs)), replace=False)]
        for _ in range(iters):
            # squared-L2 assignment per subspace (standard PQ objective)
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, : len(cent)] = cent
        if len(cent) < k:
            books[j, len(cent):] = cent[-1]
    return books, rows


def pq_topk(
    embeddings: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    m: int = 16,
    n_codes: int = 64,
) -> DataFrame:
    """Product-quantization ANN (ADC): the corpus is stored as m uint8
    codes per vector (d·8 bytes → m bytes, 64× compression at d=64/m=8);
    each query scores the WHOLE corpus from an (m × n_codes) lookup table
    of partial dot products — the memory-bound rung of the ANN ladder
    (brute = exact, LSH/IVF = prune candidates, PQ = compress the corpus
    so exhaustive scan fits in RAM at 100× the vectors).

    Distributed shape: codebooks are tiny and broadcast inside two
    mapInPandas closures — ENCODE (one corpus scan, numpy argmin per
    subspace) and SCORE (corpus-code scan × per-query table lookups);
    queries are a small driver-side list exactly like brute_force_topk's
    broadcast side. No shuffle except the final top-k window on the scored
    (query, neighbor) rows. Approximate: recall floor pinned in tests;
    exact re-ranking of the PQ top-R with true vectors is the standard
    production refinement (compose with brute_force_topk over the
    shortlist)."""
    scored, _encoded, _qids, _n = _pq_scored(
        embeddings, num_queries=num_queries, m=m, n_codes=n_codes
    )
    return _rank_topk(scored, k)


def _pq_scored(
    embeddings: DataFrame, num_queries: int, m: int, n_codes: int
):
    """Shared PQ pipeline: encode the corpus to m-byte codes and ADC-score
    it against the first ``num_queries`` vectors. Returns (scored,
    encoded, qids):

    - scored: (query_id, neighbor_id, cosine) — ADC-approximate cosines,
      self excluded;
    - encoded: (neighbor_id, codes, res) with ``res`` = per-subspace L2
      residual norms ‖x_j − c_{codes_j}‖ — the raw material for the
      rerank's SOUND shortlist criterion (Cauchy-Schwarz:
      |true − adc| = |Σ_j ⟨q_j, x_j − c_j⟩| ≤ Σ_j ‖q_j‖·res_j), eagerly
      checkpointed so scoring and any residual aggregate share one
      encode pass;
    - qids: the query ids (driver-side ndarray);
    - n_corpus: the encoded row count (free — cache_shared's eager count).
    """
    import numpy as np
    import pandas as pd

    _SAMPLE_CAP = 2048
    books, sample = _train_pq_codebooks(
        embeddings, m=m, k=n_codes, sample_cap=_SAMPLE_CAP
    )
    sub = books.shape[2]

    def _encode(batches):
        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            codes = np.empty((len(x), m), dtype=np.int64)
            res = np.empty((len(x), m), dtype=np.float64)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
                res[:, j] = np.sqrt(d2[np.arange(len(x)), codes[:, j]])
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["vec_id"],
                    "codes": list(codes),
                    "res": list(res),
                }
            )

    encoded, n_corpus = cache_shared(
        embeddings.select("vec_id", "embedding")
        .mapInPandas(
            _encode, "neighbor_id long, codes array<long>, res array<double>"
        )
    )

    # query rows: reuse the codebook training sample when it provably
    # contains every vec_id < num_queries row — the sample is the
    # sample_cap SMALLEST vec_ids, so either it covers the whole corpus
    # (len < cap) or every excluded row has vec_id >= the last included
    # one, which is >= num_queries when the guard below holds. Saves one
    # collect job per PQ build; the fallback collect is byte-identical.
    if len(sample) < _SAMPLE_CAP or (
        sample and sample[-1]["vec_id"] >= num_queries
    ):
        q_rows = [r for r in sample if r["vec_id"] < num_queries]
    else:
        q_rows = (
            embeddings.filter(F.col("vec_id") < num_queries)
            .select("vec_id", "embedding")
            .collect()
        )
    q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    # ADC tables: tables[qi, j, c] = <q_sub, codeword> -> approx cosine is
    # the sum over subspaces of table lookups
    tables = np.einsum("qjs,jcs->qjc", q.reshape(len(q), m, sub), books)

    def _score(batches):
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qids)):
                sims = tables[qi, np.arange(m)[None, :], codes].sum(axis=1)
                mask = nid != qids[qi]
                out_q.append(np.full(mask.sum(), qids[qi]))
                out_n.append(nid[mask])
                out_c.append(sims[mask])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = encoded.select("neighbor_id", "codes").mapInPandas(
        _score, "query_id long, neighbor_id long, cosine double"
    )
    return scored, encoded, qids, n_corpus


# last accepted shortlist width / certificate outcome — diagnostics for
# convergence tests (same pattern as dedup._LAST_COMPONENT_ROUNDS)
_LAST_PQ_SHORTLIST: int = 0
_LAST_PQ_CERTIFIED: bool = False


def pq_rerank_topk(
    embeddings: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    shortlist: int = 256,
    m: int = 16,
    n_codes: int = 64,
    margin_factor: float = 1.0,
    max_shortlist: int = 1 << 16,
) -> DataFrame:
    """Two-stage PQ retrieval — the standard production refinement: PQ/ADC
    scores the compressed corpus and keeps a top-``shortlist`` per query,
    then ONLY those rows are re-scored with true vectors and re-ranked to
    top-k. Exact-vector work is O(num_queries · shortlist), independent of
    corpus size; the corpus-wide pass stays on the m-byte codes.

    The shortlist is ASSERT-AND-WIDEN against a SOUND error bound, not a
    fixed knob (round-3 verdict: a fixed 256 was a silent
    data-dependence) and not a found-rank heuristic (a true neighbor
    missing from the shortlist entirely would be invisible to the ranks
    of the neighbors that WERE found). The acceptance criterion is a
    PER-VECTOR quantization-error certificate: for every vector y,
    |true(q,y) − adc(q,y)| = |⟨q, y − ŷ⟩| ≤ ‖q‖·‖y − ŷ‖ = ‖y − ŷ‖
    (Cauchy-Schwarz over the CONCATENATED residual; q is unit-norm), so
    u(y) = adc(y) + ‖y − ŷ‖ is a sound ceiling on true(y). If the k-th
    best TRUE score inside the shortlist satisfies s_k > max u(y) over
    every OUTSIDE-shortlist y (per query), no outside vector can
    displace the top-k — the reranked result PROVABLY equals exact
    brute-force top-k. This replaces the round-4 corpus-wide bound
    Σ_j ‖q_j‖·max_corpus E_j, which is both corpus-max (one straggler
    vector inflates every query's bound) and per-subspace-summed
    (Σ a_j b_j ≤ √Σa²·√Σb² — the concatenated form is never larger):
    measured at sf0.1 (2000 random gaussian vectors — PQ's HARDEST case,
    no cluster structure, so residuals rival score gaps) the per-vector
    ceiling certifies at width 1866 of 1999 where the old bound always
    widened to full coverage; clustered real-world embeddings certify
    far narrower (pinned by
    tests/test_similarity.py::test_pq_certificate_below_corpus_on_clustered_data).
    Failing the
    check, the shortlist jumps straight to the width the per-vector
    ceilings require (the ADC scores + ceilings are computed once and
    re-filtered, so widening costs no new corpus pass). Reaching the
    corpus size makes the result exact by construction; ``max_shortlist``
    caps the certificate chase (then the result is the widest-shortlist
    rerank, best-effort; vectors past the cap are covered by a
    corpus-max fallback bound).

    ``margin_factor`` multiplies the error bound for extra safety margin
    (1 = the raw certificate). The DuckDB exact-cosine oracle
    hash-verifies the whole PQ encode→ADC-score→shortlist→rerank
    pipeline as x_sim_pq_exhaustive (the same driver-checkable-identity
    trick as LSH probe-to-exhaustion and IVF nprobe=all)."""
    scored, encoded, qids, n_corpus = _pq_scored(
        embeddings, num_queries=num_queries, m=m, n_codes=n_codes
    )
    tail_r: dict[str, float] = {}

    def _tail_bound() -> float:
        # corpus-wide max residual NORM — needed only when r_cap truncates
        # the ranked table (vectors beyond r_cap have no per-vector row).
        # Computed LAZILY: a run that certifies from per-vector bounds or
        # ends at corpus coverage never pays this aggregate.
        if "e" not in tail_r:
            tail_r["e"] = encoded.agg(
                F.max(
                    F.sqrt(
                        F.aggregate(
                            F.transform("res", lambda x: x * x),
                            F.lit(0.0),
                            lambda a, x: a + x,
                        )
                    )
                ).alias("e")
            ).collect()[0]["e"]
        return float(tail_r["e"])

    r_cap = min(max_shortlist, max(n_corpus - 1, 1))
    global _LAST_PQ_SHORTLIST, _LAST_PQ_CERTIFIED
    r = min(shortlist, r_cap)
    # small-corpus shortcut: when the whole corpus is within a few
    # doublings of the initial shortlist, the narrow first pass is almost
    # certainly a wasted rescore round (tight top-k score gaps vs the
    # residual bound make the certificate chase coverage anyway, and a
    # corpus-covering rerank of Q·r_cap rows is trivial at this size) —
    # start exact. ONLY when r_cap truly covers the corpus: a
    # max_shortlist-capped r_cap is not exact, and jumping to it would
    # skip the certificate the ladder might have earned at a narrower
    # width (and misreport _LAST_PQ_CERTIFIED on a provable result).
    # Large corpora keep the certificate ladder.
    if r_cap >= n_corpus - 1 and r_cap <= 8 * r:
        r = r_cap
    # build the ranked/ceiling table ONLY when a certificate round or a
    # top-r_cap truncation can actually read it: an exact start (r ==
    # r_cap covering the corpus) returns after the first rescore with
    # EVERY scored pair in the shortlist, so the ADC row_number window,
    # the residual-norm join and their materialize job would be dead
    # work computed and thrown away (guide §1.2). The pair set is
    # identical either way — ranked.filter(adc_rank <= corpus) keeps
    # every scored row.
    exact_start = r >= r_cap and r_cap >= n_corpus - 1
    if exact_start:
        ranked = None
    else:
        # rank ALL ADC scores once and keep the top-r_cap per query
        # materialized, each row carrying its PER-VECTOR certificate
        # ceiling u(y) = adc(y) + ‖y − ŷ‖ (see the certificate check
        # below): every widening is then a FILTER over this, not a new
        # encode/score pass
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        resn = encoded.select(
            "neighbor_id",
            F.sqrt(
                F.aggregate(
                    F.transform("res", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("rnorm"),
        )
        ranked = (
            scored.withColumn("adc_rank", F.row_number().over(w))
            .filter(F.col("adc_rank") <= r_cap)
            .join(resn, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                F.col("cosine").alias("adc"),
                "adc_rank",
                (
                    F.col("cosine")
                    + F.lit(float(margin_factor)) * F.col("rnorm")
                ).alias("u"),
            )
            .localCheckpoint()
        )
    qs = embeddings.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    truth = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("e")
    )
    while True:
        short = (
            scored
            if ranked is None
            else ranked.filter(F.col("adc_rank") <= r)
        )
        # broadcast the (num_queries · shortlist)-row side so the
        # true-vector pass is a map-side hash join over one corpus scan —
        # the corpus never shuffles, keeping the "independent of corpus
        # size" claim physical; rescored (num_queries · r rows, tiny) is
        # materialized so the top-k window, the certificate collects, and
        # the caller's consumption all read it without re-scanning
        rescored = (
            with_cosine(
                truth.join(
                    F.broadcast(
                        short.select("query_id", "neighbor_id").join(
                            F.broadcast(qs), "query_id"
                        )
                    ),
                    "neighbor_id",
                )
            )
            .select("query_id", "neighbor_id", "cosine")
            .localCheckpoint()
        )
        topk = _rank_topk(rescored, k)
        if r >= r_cap:
            # covering the corpus is exact by construction; stopping at
            # max_shortlist below corpus size is the best-effort case
            _LAST_PQ_SHORTLIST = r
            _LAST_PQ_CERTIFIED = r >= n_corpus - 1
            return topk  # shortlist IS the corpus (exact) or capped
        # PER-VECTOR certificate (round-4 verdict #7: the corpus-wide
        # per-subspace bound Σ_j ‖q_j‖·max_E_j was so conservative it
        # widened to corpus coverage): for any y, Cauchy-Schwarz over the
        # CONCATENATED residual gives |true − adc| = |⟨q, y − ŷ⟩| ≤
        # ‖q‖·‖y − ŷ‖ = ‖y − ŷ‖ (q unit-norm) — both per-vector and
        # strictly tighter than the per-subspace sum (Σ a_j·b_j ≤
        # √Σa²·√Σb²). So u(y) = adc(y) + ‖y − ŷ‖ (precomputed in
        # `ranked`) is a sound ceiling on true(y); if s_k (the k-th best
        # TRUE score inside the shortlist) beats max u(y) over every
        # OUTSIDE-shortlist y, no outside vector can displace the top-k.
        # Vectors beyond r_cap (no ranked row) are covered by the
        # corpus-max fallback t_cap + max‖y − ŷ‖.
        s_k = {
            row["query_id"]: row["s_k"]
            for row in topk.join(rescored, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.min("cosine").alias("s_k"))
            .collect()
        }
        ceiling = {
            row["query_id"]: row["c"]
            for row in ranked.filter(F.col("adc_rank") > r)
            .groupBy("query_id")
            .agg(F.max("u").alias("c"))
            .collect()
        }
        if r_cap < n_corpus - 1:
            # beyond-cap tail: adc ≤ the worst RANKED adc per query
            t_cap = {
                row["query_id"]: row["t"]
                for row in ranked.groupBy("query_id")
                .agg(F.min("adc").alias("t"))
                .collect()
            }
            e = margin_factor * _tail_bound()
            for q, t in t_cap.items():
                ceiling[q] = max(ceiling.get(q, float("-inf")), t + e)
        qset = {int(q) for q in qids}
        certified = all(
            s_k.get(q, float("-inf")) > ceiling.get(q, float("-inf")) + 1e-9
            for q in qset
        )
        _LAST_PQ_SHORTLIST, _LAST_PQ_CERTIFIED = r, certified
        if certified:
            return topk
        # Jump STRAIGHT to the certified width instead of blind doubling:
        # every row whose ceiling u can reach s_k must be INSIDE the
        # shortlist, and the ranked table is materialized, so the
        # required width is just the max adc_rank among those rows. s_k
        # can only rise with a wider shortlist, so one jump suffices
        # (≤ 2 rescore rounds total); queries with no s_k yet — or a
        # tail bound that no in-cap width can silence — force the cap.
        if any(q not in s_k for q in qset):
            r_needed = r_cap
        else:
            thr = F.create_map(
                *[
                    F.lit(v)
                    for q in s_k
                    for v in (q, s_k[q] - 1e-9)
                ]
            )[F.col("query_id")]
            rows = (
                ranked.filter(F.col("u") >= thr)
                .groupBy("query_id")
                .agg(F.max("adc_rank").alias("rn"))
                .collect()
            )
            r_needed = max((row["rn"] for row in rows), default=r_cap)
            if r_cap < n_corpus - 1:
                e = margin_factor * _tail_bound()
                tail_uncertifiable = any(
                    s_k[q] <= t_cap.get(q, float("-inf")) + e + 1e-9
                    for q in s_k
                )
                if tail_uncertifiable:
                    r_needed = r_cap  # best-effort: no in-cap certificate
        r = min(max(r * 2, r_needed), r_cap)


def certified_ann_topk(
    embeddings: DataFrame,
    method: str,
    num_queries: int = 10,
    k: int = 5,
    recall_floor: float = 0.2,
    planted_offset: int = 1 << 40,
    **kwargs,
) -> DataFrame:
    """Self-certifying wrapper for the approximate top-k paths (LSH / IVF /
    PQ): runs the PRODUCTION operator on the corpus augmented with an exact
    copy of every query vector and emits an engine-independent certificate
    row per query instead of the (engine-dependent) neighbor list:

    - ``n_results``: rows the approximate path returned (must be ``k``);
    - ``planted_ok``: the planted copy (cosine exactly 1.0 with its query)
      was retrieved. This is DETERMINISTIC for the bucketed paths — an
      identical vector has an identical LSH signature (Hamming 0 is inside
      any probe radius) and an identical nearest IVF centroid (the first
      probed cell) — so the flag certifies signature computation, bucket
      assignment, the probe join, scoring, and ranking end to end without
      depending on corpus statistics. For PQ/ADC the planted copy's table
      score is its own quantization, which on any corpus whose cosine
      spread is wider than the quantization noise also ranks first
      (asserted by the same flag; the exhaustive twin pins exactness);
    - ``recall_ok``: recall vs in-plan exact brute force >= recall_floor —
      a deliberately LOOSE catastrophe detector (production-knob recall on
      the generated corpus is ~0.35-0.6 and drifts with corpus size, so a
      tight floor here would measure generator luck; tight calibrated
      floors live in tests/test_similarity.py on fixed-size subsets).

    The DuckDB oracle for a certified query is a literal: every flag TRUE
    and ``n_results = k`` for each ``vec_id < num_queries`` — making the
    formerly rows-only approximate paths hash-green without pretending
    their neighbor lists are engine-portable.

    ``planted_offset`` must exceed every real vec_id (a collision would
    let a real vector impersonate a planted copy); ids must stay
    non-negative because the ANN operators select queries as
    ``vec_id < num_queries``. The 2^40 default clears any realistic
    corpus (10^12 ids) while leaving 2^22 headroom to long overflow.

    The exact brute-force baseline is built in the same plan and feeds
    one left join, so each call computes its own."""
    methods = {"lsh": lsh_bucketed_topk, "ivf": ivf_topk, "pq": pq_topk}
    fn = methods[method]
    planted = embeddings.filter(F.col("vec_id") < num_queries).withColumn(
        "vec_id", F.col("vec_id") + F.lit(planted_offset)
    )
    corpus = embeddings.unionByName(planted)
    approx = fn(corpus, num_queries, k, **kwargs)

    exact = brute_force_topk(corpus, num_queries, k).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_exact")
    )
    floor_x100 = int(round(recall_floor * 100))
    return (
        approx.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_results"),
            F.max(
                F.col("neighbor_id")
                == F.col("query_id") + F.lit(planted_offset)
            ).alias("planted_ok"),
            (
                F.count("in_exact") * 100
                >= F.lit(floor_x100) * F.lit(k)
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )
