package graft.extensions

import graft.{Ctx, Macros => M}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * list<float>, label).
  *
  * Dot products are sequential left-folds over doubles (Spark `aggregate`),
  * which is bit-identical to DuckDB's list_dot_product loop — verified
  * empirically — so cosine scores hash-match the oracle.
  *
  * Scale design: brute-force kNN broadcasts the (small) query set against a
  * partitioned candidate scan — linear in corpus size, no shuffle of the big
  * side. The LSH variant buckets by 8 deterministic hyperplane signs first,
  * so the candidate join is per-bucket (the 100 TB path).
  */
object Similarity {
  import M._

  /** Cosine via the native codegen'd [[graft.functions.CosineSim]] — same
    * sequential-fold semantics as the previous aggregate(zip_with(...)) HOF
    * form (bit-identical, oracle-verified) minus its per-row interpreted
    * lambda dispatch. Each caller registers the function on its session. */
  private def cosine(a: String, b: String): Column =
    expr(s"cosine_sim($a, $b)")

  /** Brute-force cosine top-k: for each query vector (vec_id < 10), the top
    * 5 nearest neighbours among all other vectors. */
  def annBruteForce(ctx: Ctx, k: Int = 5): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), cosine("qe", "ce").as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rank"))
  }

  /** 8-bit deterministic-hyperplane signature (random-projection LSH with a
    * fixed integer weight grid w(i,j) = (i*31 + j*17) % 7 - 3), via the
    * native codegen'd [[graft.functions.LshSign]] — bit-identical to the
    * interpreted HOF form it replaced (kept below for the parity spec). */
  private def bucketExpr: Column = expr("lsh_sign(embedding)")

  /** The original per-bit aggregate(transform(...)) HOF stack — interpreted
    * by Catalyst (8 lambda folds + 8 intermediate arrays per row); retained
    * solely so LshSignSpec can assert the native expression matches it
    * exactly on real and adversarial inputs. */
  private[graft] def bucketExprHof(arrCol: String): Column = {
    val bits = (0 until 8).map { j =>
      val s = s"""aggregate(transform(sequence(0, size($arrCol) - 1),
                 |  i -> CAST($arrCol[i] AS DOUBLE) * CAST((i * 31 + $j * 17) % 7 - 3 AS DOUBLE)),
                 |  0D, (acc, v) -> acc + v)""".stripMargin
      when(expr(s) >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** LSH-bucketed near-neighbour pairs: vectors sharing an 8-bit projection
    * signature are candidates; exact cosine on candidates only. The 0.3
    * cosine floor is calibrated to the testdata's similarity scale (label
    * clusters peak near 0.5), keeping the result non-empty at every SF. */
  def annLshBuckets(ctx: Ctx): DataFrame =
    annLshBucketsWith(ctx, bucketExpr)

  /** [[annLshBuckets]] hardened for corpus scale, two mechanisms:
    *
    *  1. OCCUPANCY-ADAPTIVE grid: a 24-bit / mod-23 signature (23 distinct
    *     hyperplanes — the weight pattern repeats with period `mod` in j)
    *     truncated to b = clamp(8..24, ⌈log2(N / 16)⌉) bits, from one
    *     scalar COUNT broadcast onto the scan (no collect). More data ⇒
    *     finer grid, so DISPERSED corpora keep ~16 expected occupancy.
    *  2. Per-bucket member CAP (first 128 by vec_id, rank via one
    *     bucket-partitioned row_number): hyperplanes cannot split a TIGHT
    *     cluster — its members share every sign, so its pair output is
    *     quadratic in cluster size no matter how many bits the grid has.
    *     Measured on the synth corpus (10 planted megaclusters,
    *     PERF_NOTES_r8.md): full output 54.0M pairs at SF2 → 1.184B at SF10
    *     (quadratic, 22× on 5× data — this was r7's super-linear
    *     `ann_lsh_buckets_wide` leg); capped output 192k → 330k (1.7× on
    *     5× data, bounded by buckets × cap²/2). The cap is the standard
    *     production bucket-size limit (FAISS max bucket): for dedup /
    *     graph seeding a cluster needs REPRESENTATIVE pairs, not all
    *     |C|²/2 of them — exhaustive within-cluster enumeration stays
    *     available on the uncapped 8-bit [[annLshBuckets]] leg.
    *
    * Both mechanisms run identically in the DuckDB oracle, so the
    * correctness gate verifies the adaptive grid and the cap themselves. */
  def annLshBucketsWide(ctx: Ctx): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    graft.functions.LshSign.register(ctx.spark)
    val bits = ctx.tbl("embeddings").agg(
      greatest(lit(8), least(lit(24),
        ceil(log2(count(lit(1)) / lit(16.0))).cast("int"))).as("__b"))
    val e = ctx.tbl("embeddings")
      .crossJoin(broadcast(bits))
      .select(col("vec_id"), col("embedding"), col("label"),
        expr("substring(lsh_sign(embedding, 24, 23), 1, __b)").as("bucket"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
      .filter(col("__rn") <= 128).drop("__rn")
    pairsWithCosine(e)
  }

  private def annLshBucketsWith(ctx: Ctx, bucket: Column): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    graft.functions.LshSign.register(ctx.spark)
    val e = ctx.tbl("embeddings").select(
      col("vec_id"), col("embedding"), col("label"), bucket.as("bucket"))
    pairsWithCosine(e)
  }

  private def pairsWithCosine(e: DataFrame): DataFrame = {
    bucketSelfPairs(e)
      .select(
        col("bucket"),
        col("__a.vec_id").as("vec_a"), col("__b.vec_id").as("vec_b"),
        col("__a.label").as("label_a"), col("__b.label").as("label_b"),
        cosine("__a.embedding", "__b.embedding").as("cosine"),
        (col("__a.label") === col("__b.label")).as("same_label"))
      .filter(col("cosine") >= 0.3)
      .select(col("bucket"), col("vec_a"), col("vec_b"), col("label_a"),
        col("label_b"), col("cosine"), col("same_label"))
  }

  /** All unordered within-bucket pairs (vec_a < vec_b), TRIANGLE-SPLIT:
    * members salt into `groups` deterministic sub-groups and the bucket's
    * pair set is covered by the G(G+1)/2 ordered group-pair joins, so the
    * shuffle key is (bucket, gLow, gHigh) — a HOT bucket (a tight semantic
    * cluster all sharing one signature, the common case on clustered
    * corpora) spreads its quadratic pair output over 36 keys instead of
    * one task. AQE's skew split cannot do this: it balances map-side
    * partition BYTES, and a hot bucket's cost lives in the join OUTPUT
    * (members², invisible before the join runs). Measured at synth SF10
    * (200k clustered vectors): 219 s -> ~17 s for the 16-bit bucket scan.
    * Result set is IDENTICAL to the naive self-join (each unordered pair
    * materializes exactly once: cross-group pairs only under
    * (lo, hi) = their ordered group pair; same-group pairs id-filtered). */
  private[extensions] def bucketSelfPairs(e: DataFrame, groups: Int = 8): DataFrame = {
    val m = e.withColumn("__g",
      pmod(xxhash64(col("vec_id")), lit(groups.toLong)).cast("int"))
    val payload = struct(col("vec_id"), col("embedding"), col("label"))
    val aSide = m
      .withColumn("__hi", explode(expr(s"sequence(__g, ${groups - 1})")))
      .select(col("bucket"), col("__g").as("__lo"), col("__hi"), payload.as("__x"))
    val bSide = m
      .withColumn("__lo", explode(expr("sequence(0, __g)")))
      .select(col("bucket"), col("__lo"), col("__g").as("__hi"), payload.as("__y"))
    aSide.join(bSide, Seq("bucket", "__lo", "__hi"))
      .filter(col("__lo") =!= col("__hi") ||
        col("__x.vec_id") < col("__y.vec_id"))
      .select(col("bucket"),
        when(col("__x.vec_id") < col("__y.vec_id"), col("__x"))
          .otherwise(col("__y")).as("__a"),
        when(col("__x.vec_id") < col("__y.vec_id"), col("__y"))
          .otherwise(col("__x")).as("__b"))
  }

  /** Approximate k-NN GRAPH construction: every vector's top-k nearest
    * bucket-mates — the neighbourhood graph that semantic dedup and
    * graph-based ANN indexes (HNSW seeding, NN-Descent) start from.
    * Candidates come from the shared 8-bit LSH bucket (per-bucket join, the
    * same 100 TB-safe shape as [[annLshBuckets]]); the per-vector top-k then
    * goes through the salted two-phase [[graft.operators.TopK]] rewrite, so
    * a hot bucket (all-alike corpus) cannot funnel one vector's candidates
    * through a single task. Vectors alone in their bucket yield no rows —
    * the standard LSH recall trade-off, not an error. */
  def annKnnGraph(ctx: Ctx, k: Int = 3): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    graft.functions.LshSign.register(ctx.spark)
    val e = ctx.tbl("embeddings")
      .select(col("vec_id"), col("embedding"), lit(0L).as("label"),
        bucketExpr.as("bucket"))
    // directed candidate edges = both orientations of the triangle-split
    // unordered pairs (same hot-bucket spreading as annLshBuckets; the
    // cosine is computed once per unordered pair, halving the hot work)
    val und = bucketSelfPairs(e)
      .select(col("__a.vec_id").as("va"), col("__b.vec_id").as("vb"),
        cosine("__a.embedding", "__b.embedding").as("cosine"))
    val pairs = und.select(col("va").as("vec_id"),
        col("vb").as("neighbor_id"), col("cosine"))
      .unionByName(und.select(col("vb").as("vec_id"),
        col("va").as("neighbor_id"), col("cosine")))
    graft.operators.TopK.topKPerKey(
        pairs,
        keys = Seq(col("vec_id")),
        order = Seq(col("cosine").desc, col("neighbor_id")),
        saltOn = Seq(col("neighbor_id")),
        k = k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Embedding-cosine near-duplicate detection: LSH buckets + a cosine
    * threshold — the embedding-space analogue of MinHash dedup. 0.4 sits in
    * the top ~0.1% of this corpus's pair-cosine distribution (its vectors
    * cluster weakly; nothing exceeds ~0.6), so the result is non-empty while
    * still selecting only the most-similar pairs. */
  def dedupEmbedding(ctx: Ctx): DataFrame =
    annLshBuckets(ctx)
      .filter(col("cosine") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cosine"))

  /** IVF-style ANN: a fixed set of seed vectors (vec_id < 8) acts as the
    * coarse quantizer; every vector is assigned to its nearest seed (cell),
    * and a query probes only its nprobe=2 nearest cells — the inverted-file
    * pattern that bounds the scan to a fraction of the corpus at scale.
    * Queries here: vec_id in [10, 20); top-3 within probed cells. */
  def annIvf(ctx: Ctx, k: Int = 3, nprobe: Int = 2): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    // cell assignment: nearest seed per vector (deterministic tie-break)
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        cosine("embedding", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    // probe list: nprobe nearest cells per query
    val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = queries.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("qe"), col("cell_id"),
        cosine("qe", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cell_id"))
    // search only within probed cells
    probes.join(assigned.select(col("cell_id"), col("vec_id").as("cand_id"),
        col("embedding").as("ce")), Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        cosine("qe", "ce").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }

  /** FILTERED vector search, exact baseline: top-k cosine among only the
    * candidates that satisfy a metadata predicate — here "same label as the
    * query" (in-category search), the canonical filtered-ANN shape (FAISS
    * IDSelector / vector-DB payload filters). The predicate is applied to
    * the candidate SCAN — map-side, before any distance work — so its
    * selectivity divides the scored-row count directly; the query set stays
    * broadcast and the corpus side never shuffles. Queries: vec_id in
    * [10, 20); top-5 within the query's own label. */
  def annFilteredBrute(ctx: Ctx, k: Int = 5): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("label"),
      col("embedding").as("ce"))
    broadcast(q)
      .join(c, col("label") === col("qlabel") && col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("label"),
        cosine("qe", "ce").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }

  /** FILTERED IVF search: [[annIvf]]'s inverted-file scan with the metadata
    * predicate pushed INTO the probed cells — candidates failing the filter
    * drop BEFORE scoring and before top-k (PRE-filtering), so a query still
    * fills its k slots no matter how selective the predicate, where a
    * post-filter (rank first, filter after) silently returns fewer. At
    * scale the probed-cell candidate stream is the only data-sized leg and
    * the filter multiplies it down by its selectivity; seeds stay a
    * broadcast. Kept textually separate from [[annIvf]] (not a shared
    * parameterized body) so the unfiltered plan the oracle and specs pin
    * cannot drift. */
  def annIvfFiltered(ctx: Ctx, k: Int = 3, nprobe: Int = 2): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    val assigned = e.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("label"), col("embedding"), col("cell_id"),
        cosine("embedding", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("cell_id"))
    val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val probes = queries.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("qlabel"), col("qe"), col("cell_id"),
        cosine("qe", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qlabel"), col("qe"), col("cell_id"))
    probes.join(assigned.select(col("cell_id"), col("vec_id").as("cand_id"),
        col("label"), col("embedding").as("ce")), Seq("cell_id"))
      .filter(col("label") === col("qlabel") && col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        cosine("qe", "ce").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }

  /** Per-dimension int8 (0..255) quantization of the embedding column —
    * the storage-compression step before shipping vectors to an ANN index.
    * Two passes, both linear: explode -> per-dim min/max (64 rows,
    * broadcast back) -> affine quantize. Cross-engine exact: float ->
    * double casts are lossless, the affine expression keeps one IEEE
    * operation order in both engines, and round-at-scale-0 on identical
    * doubles is bit-identical (the verified Macros.rnd rule); degenerate
    * dims (max == min) emit null via the nullif guard, as in the oracle. */
  def embeddingQuantize(ctx: Ctx): DataFrame = {
    val expl = ctx.tbl("embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "vf")))
      .select(col("vec_id"), col("idx"), col("vf").cast("double").as("vd"))
    val stats = expl.groupBy("idx").agg(min("vd").as("dmin"), max("vd").as("dmax"))
    expl.join(broadcast(stats), Seq("idx"))
      .select(col("vec_id"), col("idx"), col("dmin"), col("dmax"),
        rnd((col("vd") - col("dmin")) * 255 / nullifZero(col("dmax") - col("dmin")), 0)
          .cast("int").as("q"))
  }

  /** Quantized-retrieval quality: recall@k of int8-reconstructed vectors
    * against exact-float retrieval, per query — the measurement that
    * decides whether a pipeline can serve ANN from 4x-smaller quantized
    * embeddings. Reconstruction is the exact affine inverse of
    * [[embeddingQuantize]] (identical IEEE ops in both engines; constant
    * dims reconstruct to their single value); the reconstructed vector is
    * reassembled in INDEX order (array_sort over (idx, value) structs —
    * collect_list order is shuffle-dependent, the sort makes the fold
    * deterministic) so the sequential cosine fold is bit-stable. Top-k on
    * both sides uses the same (cosine desc, cand) total order; overlap and
    * recall are exact-integer arithmetic. */
  def annQuantizedRecall(ctx: Ctx, k: Int = 5): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val rd = when(col("dmax") === col("dmin"), col("dmin"))
      .otherwise(col("dmin")
        + col("q").cast("double") * (col("dmax") - col("dmin")) / 255.0)
    val rv = embeddingQuantize(ctx)
      .select(col("vec_id"), col("idx"), rd.as("rd"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(idx, rd))), x -> x.rd)")
        .as("rv"))
    def topK(vecs: DataFrame, vcol: String): DataFrame = {
      val qs = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col(vcol).as("qv"))
      val cs = vecs.select(col("vec_id").as("cand_id"), col(vcol).as("cv"))
      broadcast(qs).crossJoin(cs)
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), cosine("qv", "cv").as("cosine"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
        .filter(col("rank") <= k)
    }
    val exact = topK(ctx.tbl("embeddings")
      .select(col("vec_id"), col("embedding")), "embedding")
    val quant = topK(rv, "rv")
    exact.as("e")
      .join(quant.as("qq"),
        col("e.query_id") === col("qq.query_id")
          && col("e.cand_id") === col("qq.cand_id"), "left")
      .groupBy(col("e.query_id").as("query_id"))
      .agg(
        count(col("e.cand_id")).as("n_exact"),
        count(col("qq.cand_id")).as("n_overlap"))
      .select(col("query_id"), col("n_exact"), col("n_overlap"),
        dv(col("n_overlap"), col("n_exact")).as("recall_at_k"))
  }

  /** Per-label centroids — the IVF coarse-quantizer building block: one
    * explode + per-(label, dim) mean, emitted as scalar (label, idx,
    * n_vectors, dim_mean) rows so the result is hashable and oracle-checked.
    *
    * The mean is order-insensitive and cross-engine exact: each float is
    * quantized to 1e-9 fixed point (`round(x * 1e9, 0)` — round-at-scale-0 on
    * an identical IEEE product is bit-identical across Spark and DuckDB,
    * empirically verified; string routes are NOT, because Java 17 float
    * printing is not always shortest-repr), summed as exact integer decimals,
    * and only the final division is a double op (identical IEEE both sides). */
  def labelCentroids(ctx: Ctx): DataFrame = {
    // posexplode the RAW float array and quantize per scalar row: the same
    // per-element expression, but codegen'd (the transform lambda was
    // interpreted per element — CodegenFallback) and the generator output
    // is the narrow float, not a pre-built decimal array
    val e = ctx.tbl("embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .select(col("label"), col("idx"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1e9, 0) AS DECIMAL(20,0))").as("v"))
    e.groupBy("label", "idx").agg(
      count(lit(1)).as("n_vectors"),
      (dv(sum("v"), count(lit(1))) / lit(1e9)).as("dim_mean"))
  }

  /** Contrastive training-pair construction — the dataset-building step of
    * an embedding-training pipeline: positive pairs from within-cluster
    * adjacency, negatives from a deterministic rank-offset pairing, both
    * with their measured cosine (so downstream can curriculum-filter by
    * hardness). Shapes chosen for 100 TB:
    *  - positives: vectors ranked by (label, vec_id) through the two-phase
    *    [[graft.operators.Scale.globalOrder]] (NEVER a per-label window —
    *    one giant cluster would funnel a single task), adjacent ranks with
    *    equal labels pair up — linear, shuffle = one range exchange;
    *  - negatives: rank r pairs with rank (r + total/2) mod total — a
    *    perfect matching by construction (no rejection sampling, no skew),
    *    cross-label pairs kept. */
  def trainingPairs(ctx: Ctx): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val ranked = graft.operators.Scale.globalOrder(
      ctx.tbl("embeddings").select(col("vec_id"), col("label"), col("embedding")),
      order = Seq(col("label"), col("vec_id")),
      rn = Some("rn"), totalCount = Some("total"))
    val a = ranked.select(col("rn"), col("total"), col("vec_id").as("vec_a"),
      col("label").as("label_a"), col("embedding").as("ea"))
    val b = ranked.select(col("rn").as("rn_b"), col("vec_id").as("vec_b"),
      col("label").as("label_b"), col("embedding").as("eb"))
    val pos = a.join(b, col("rn_b") === col("rn") + 1)
      .filter(col("label_a") === col("label_b"))
      .select(lit(true).as("is_positive"), col("vec_a"), col("vec_b"),
        col("label_a"), col("label_b"),
        expr("cosine_sim(ea, eb)").as("cosine"))
    val neg = a.join(b,
        col("rn_b") === pmod(col("rn") - 1 + floor(col("total") / 2),
          col("total")) + 1)
      .filter(col("label_a") =!= col("label_b"))
      .select(lit(false).as("is_positive"), col("vec_a"), col("vec_b"),
        col("label_a"), col("label_b"),
        expr("cosine_sim(ea, eb)").as("cosine"))
    pos.unionByName(neg)
      .orderBy(col("is_positive").desc, col("vec_a"), col("vec_b"))
  }

  /** Product-quantization recall@k — the third leg of the production ANN
    * trio (LSH buckets / IVF cells / PQ codes). The 64-dim space splits
    * into 8 subspaces of 8 dims; the codebook per subspace is the seed
    * vectors' subvectors (vec_id < 16, fixed coarse quantizer exactly like
    * [[annIvf]] — no iterative k-means, so both engines derive identical
    * codebooks). Every vector encodes to 8 codes (nearest codeword per
    * subspace by subvector cosine); a query's similarity to a candidate is
    * recovered WITHOUT touching the candidate's floats — the ADC pattern:
    * the query precomputes its 8×16 codeword similarities, a candidate
    * costs 8 table lookups + a sum. Compression here: 64 floats → 8 bytes.
    *
    * Cross-engine exactness: per-subspace cosines are single sequential
    * folds (the verified [[graft.functions.CosineSim]]/list_dot_product
    * pairing), then ROUNDed to DECIMAL(12,9) before the 8-way ADC sum —
    * decimal addition is order-free, so the shuffle's nondeterministic
    * row order cannot flip a ranking (double addition is not associative;
    * the int8 quantize oracle uses the same round-then-exact rule).
    *
    * At 100 TB: encoding is a linear pass with a broadcast codebook; the
    * ADC scan is Q×N lookups — in production composed with [[annIvf]]
    * (probe cells first, ADC within cells), both pieces of which this
    * library ships. */
  def annPqRecall(ctx: Ctx, k: Int = 5): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val sub = e.select(col("vec_id"), col("label"),
        explode(expr("sequence(0, 7)")).as("s"), col("embedding"))
      .select(col("vec_id"), col("s"),
        expr("slice(embedding, s * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("cell"), col("sv").as("cv"))
    // encode: nearest codeword per (vector, subspace)
    val codes = sub.join(broadcast(cb), Seq("s"))
      .select(col("vec_id"), col("s"), col("cell"),
        expr("cosine_sim(sv, cv)").as("subcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "s").orderBy(col("subcos").desc, col("cell"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("cell"))
    val queries = sub.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("s"), col("sv").as("qv"))
    // the query's 8x16 codeword-similarity table, rounded to exact decimal
    val qd = queries.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("cell"),
        round(expr("cosine_sim(qv, cv)"), 9).cast("decimal(12,9)").as("qdec"))
    // ADC: candidate score = sum of the query's similarities to its codes —
    // packed + unrolled like annIvfPq (r11): one codes array per candidate,
    // one flat 8×16 decimal slot array per query, score = eight unrolled
    // element_at lookups in a single whole-stage-codegen'd sum. The
    // previous shape joined 8 code rows per candidate against the
    // broadcast qd relation and re-aggregated (query, cand) groups — at
    // SF100 that is 160M joined rows and a 20M-group exchange for a
    // FULL-SCAN ADC (no IVF restriction here). Same exact decimal values
    // (order-free addition), oracle-pinned.
    val codesPacked = codes
      .groupBy(col("vec_id").as("cand_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, cell))), x -> x.cell)")
        .as("codes"))
    val qarr = qd
      .groupBy(col("query_id"), col("s"))
      .agg(map_from_entries(collect_list(
        struct(col("cell").cast("int").as("k"), col("qdec").as("v")))).as("m"))
      .select(col("query_id"), col("s"),
        expr("""transform(sequence(0, 15),
           c -> coalesce(element_at(m, c), CAST(0 AS DECIMAL(12,9))))""").as("sarr"))
      .groupBy("query_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, sarr))), x -> x.sarr))")
        .as("qarr"))
    val adcSum = (0 until 8)
      .map(s => s"element_at(qarr, CAST($s * 16 + " +
        s"element_at(codes, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    val adc = codesPacked.crossJoin(broadcast(qarr))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr(s"CAST($adcSum AS DECIMAL(22,9))").as("approx"))
    val pqTop = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"))
    // ground truth: exact full-vector cosine top-k
    val qe = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("fq"))
    val exactTop = qe.join(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("fc")), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr("cosine_sim(fq, fc)").as("cosine"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"))
    val pqT = pqTop.select(col("query_id").as("pq_qid"), col("cand_id").as("pq_cand"))
    exactTop.join(pqT,
        col("query_id") === col("pq_qid") && col("cand_id") === col("pq_cand"),
        "left_outer")
      .groupBy("query_id")
      .agg(count(col("cand_id")).as("n_exact"),
        count(col("pq_cand")).as("n_overlap"))
      .select(col("query_id"), col("n_exact"), col("n_overlap"),
        dv(col("n_overlap"), col("n_exact")).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** The COMPOSED production ANN pipeline (FAISS IVFADC shape): coarse
    * quantizer → ADC scan within probed cells → exact rerank.
    *
    *  1. IVF ([[annIvf]]'s pieces): every vector is assigned to its
    *     nearest of 8 seed cells; each query probes its `nprobe` nearest
    *     cells.
    *  2. PQ-ADC ([[annPqRecall]]'s pieces): candidates INSIDE probed
    *     cells are scored from their 8 codebook codes and the query's
    *     broadcast 8×16 decimal similarity table — no candidate floats
    *     touched, and the scan is |probed cells|/|cells| of the corpus,
    *     not all of it.
    *  3. Exact rerank: only the top-`shortlist` ADC survivors per query
    *     pay a full-vector cosine; top `k` emitted with ranks.
    *
    * At 100 TB: stage 2's cost is the probed fraction × 8 lookups/row,
    * stage 3 touches shortlist×Q vectors. Cross-engine exactness is the
    * same verified rules as the two parents: deterministic tie-breaks
    * everywhere, decimal-rounded ADC sums (order-free addition), the
    * verified cosine fold. */
  def annIvfPq(ctx: Ctx, k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 20): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cell_id"), cosine("embedding", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") === 1)
      .select("vec_id", "cell_id")
    val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = queries.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("cell_id"), cosine("qe", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select("query_id", "cell_id")
    // PQ encode + query distance table, the same construction as
    // annPqRecall ("code" = codeword id, distinct from the IVF cell_id) —
    // but codes are REINDEXED densely per subspace (row_number over the
    // tiny codebook; rank is monotone in the original id, so every
    // tie-break is unchanged) and the serving join is PACKED: one codes
    // array per candidate, one (8 × 16)-slot decimal array per query,
    // ADC score = a single fold of 8 array lookups. The previous
    // row-per-subspace shape paid 8 join rows + a (query, cand)
    // re-aggregation per candidate — measured 3-6× the packed form's
    // cost at scale (PERF_NOTES_r10.md §3: the row-machinery tax made
    // the whole ADC path lose to brute force). The fold accumulates the
    // SAME eight decimal(12,9) values Spark's sum() added — decimal
    // addition is exact and order-free, so the output is bit-identical
    // (the DuckDB oracle and AnnIndexSpec both pin this).
    val sub = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"),
        col("embedding"))
      .select(col("vec_id"), col("s"), expr("slice(embedding, s * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("code"), col("sv").as("cv"))
      .withColumn("code", row_number().over(
        Window.partitionBy("s").orderBy("code")) - 1)
    val codesPacked = sub.join(broadcast(cb), Seq("s"))
      .select(col("vec_id"), col("s"), col("code"),
        expr("cosine_sim(sv, cv)").as("subcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "s").orderBy(col("subcos").desc, col("code"))))
      .filter(col("rn") === 1)
      .groupBy(col("vec_id").as("cand_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), x -> x.code)")
        .as("codes"))
    // full (s, code) grid so slot arithmetic s*16 + code stays valid even
    // if the codebook were ever sparse; unreferenced slots pad 0
    val qarr = queries
      .select(col("query_id"), explode(expr("sequence(0, 7)")).as("s"), col("qe"))
      .select(col("query_id"), col("s"), expr("slice(qe, s * 8 + 1, 8)").as("qv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        round(expr("cosine_sim(qv, cv)"), 9).cast("decimal(12,9)").as("qdec"))
      .select(col("query_id"), col("s"),
        explode(expr("sequence(0, 15)")).as("slot"), col("code"), col("qdec"))
      .select(col("query_id"), col("s"), col("slot"),
        when(col("slot") === col("code"), col("qdec"))
          .otherwise(lit(0).cast("decimal(12,9)")).as("qdec"))
      .groupBy("query_id", "s", "slot")
      .agg(sum(col("qdec")).cast("decimal(12,9)").as("qdec"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(s, slot, qdec))), x -> x.qdec)")
        .as("qarr"))
    // ADC over candidates in probed cells only — one row per candidate.
    // The 8 slot lookups are UNROLLED into one flat sum rather than an
    // aggregate() fold: higher-order functions are CodegenFallback, and
    // the interpreted per-row eval measured 2.6-3x the cost of the
    // whole-stage-codegen'd unrolled expression on 900k candidates
    // (PERF_NOTES_r11.md — element type is not the
    // tax, the HOF is: a double fold was just as slow). Decimal addition
    // is exact and order-free, so the value is bit-identical to the fold
    // and to the original per-subspace sum() (the DuckDB oracle pins it).
    val cands = probes
      .join(assigned.select(col("cell_id"), col("vec_id").as("cand_id")), Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
    val adcSum = (0 until 8)
      .map(s => s"element_at(qarr, CAST($s * 16 + " +
        s"element_at(codes, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    val adc = cands
      .join(codesPacked, Seq("cand_id"))
      .join(broadcast(qarr), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        expr(s"CAST($adcSum AS DECIMAL(22,9))").as("approx"))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("cand_id"))))
      .filter(col("rn") <= shortlist)
      .select("query_id", "cand_id", "cell_id", "approx")
    // exact rerank of the shortlist only
    short.join(queries, Seq("query_id"))
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ce")),
        Seq("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        col("approx").cast("double").as("approx"), cosine("qe", "ce").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }
}
