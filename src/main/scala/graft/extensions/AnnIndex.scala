package graft.extensions

import graft.{Ctx, Versioned}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVFADC index — the build-once / query-many production shape
  * of [[Similarity.annIvfPq]] (reference: the FAISS index-file lifecycle;
  * the r9 probe measured the build at 564 s for 2M vectors at SF100, which
  * is exactly the cost a serving path must NOT pay per query batch).
  *
  * [[build]] computes the three index relations plus the rerank corpus and
  * publishes each as a [[graft.Versioned]] manifest table under `dir`:
  *
  *   - `seeds`      (cell_id, se)            — coarse-quantizer centroids
  *   - `codebooks`  (s, code, cv)            — per-subspace PQ codewords
  *   - `coded`      (vec_id, cell_id, codes) — each corpus vector's cell
  *     assignment and its 8 PQ codes packed in subspace order (the 8-byte
  *     production encoding, kept as array<int> for plan inspectability)
  *   - `vectors`    (vec_id, embedding)      — full floats, rerank-only
  *   - `meta`       (generation, seeds_v, codebooks_v, coded_v, vectors_v)
  *     — ONE row naming the four table versions that form this index
  *     generation, committed LAST
  *
  * Versioned (not bare parquet) is what makes this production-shaped: an
  * index REBUILD publishes all four relations as new snapshots readable
  * only when complete (readers of the old index are never disturbed
  * mid-rebuild — snapshot isolation), and a crashed rebuild leaves the
  * prior version fully servable. The four data tables commit
  * independently; CROSS-TABLE atomicity comes from the meta-manifest:
  * [[query]] resolves the latest `meta` snapshot once at entry and pins
  * every table read to the versions that row names, so a serving call can
  * never observe a mixed generation — an in-flight rebuild that has
  * committed some tables but not yet its meta row is invisible, and a
  * crashed rebuild leaves readers on the previous generation entirely
  * (AnnIndexSpec pins this with an interleaved-rebuild test).
  *
  * [[query]] serves the composed IVFADC pipeline FROM the persisted tables
  * — probe nprobe cells, ADC-score only coded vectors in probed cells (no
  * floats touched), exact-rerank only the top-`shortlist` — with the same
  * deterministic tie-breaks and decimal-rounded ADC sums as
  * [[Similarity.annIvfPq]]; AnnIndexSpec proves the served results are
  * row-identical to the unpersisted composition.
  *
  * The ADC is PACKED and UNROLLED, the shape [[Similarity.annIvfPq]]
  * ships: one row per candidate, score = eight explicit `element_at` slot
  * lookups over the candidate's packed codes against the query's
  * broadcast slot array, summed in one whole-stage-codegen'd expression.
  * Two row-machinery taxes were measured out of this path: the
  * row-per-subspace form (posexplode + BroadcastHashJoin + re-aggregate,
  * 3-6× the packed cost — PERF_NOTES_r10.md §3) and the `aggregate()`
  * higher-order fold (CodegenFallback: interpreted per-row eval, 2.6-3×
  * the unrolled sum at 900k candidates regardless of element type —
  * PERF_NOTES_r11.md). The unrolled sum adds the
  * SAME eight decimal(12,9) values the original per-subspace sum() added
  * — decimal addition is exact and order-free, so the output is
  * bit-identical (AnnIndexSpec pins row-identity with annIvfPq).
  *
  * At 100 TB: the build is the linear encode pass (broadcast seeds +
  * codebooks) paid once; a query batch reads manifest-listed parquet of
  * the coded relation (8 codes + cell per vector — ~1% of the float
  * bytes), shuffles only probed-cell candidates, and touches full vectors
  * for shortlist×Q rows. Serving cost is independent of build cost.
  */
object AnnIndex {

  private val Tables = Seq("seeds", "codebooks", "coded", "vectors")

  /** Build the index from `ctx`'s `embeddings` table and publish under
    * `dir`. `nCells`/`nCodewords` set the coarse/PQ shape and mean exactly
    * what they say: seeds = the `nCells` SMALLEST vec_ids, codebooks =
    * per-subspace slices of the `nCodewords` smallest. This is a RANK
    * rule, not an id threshold, because the two corpora this engine reads
    * disagree on id base — driver testdata is 0-based dense, the synth
    * generator 1-based dense — so any `vec_id < n` / `<= n` rule publishes
    * a different cell count per corpus (the r11 off-by-one scar was this
    * wart surfacing on the synth side). The rank rule publishes exactly
    * the parameterized shape on ANY id set; `cells_actual` in
    * BENCH_ANN.json confirms it. A production build passes
    * ~sqrt(N) cells and 256 codewords. The defaults (8 cells / 16
    * codewords) are the [[Similarity.annIvfPq]] verification shape —
    * annIvfPq/annIvf fix their quantizers as the testdata seed sets
    * {0..7} and {0..15}, and matching those sets exactly is what gives
    * the AnnIndexSpec row-identity (and through the oracle twins,
    * cross-engine parity).
    * Returns table -> committed version, including the `meta` generation
    * commit that makes the five publishes one atomic index version. */
  def build(ctx: Ctx, dir: String, nCells: Int = 8,
      nCodewords: Int = 16, metaCols: Seq[String] = Nil): Map[String, Long] = {
    require(nCells >= 1 && nCodewords >= 1,
      s"build needs >=1 seed and >=1 codeword: " +
        s"nCells=$nCells nCodewords=$nCodewords")
    graft.functions.CosineSim.register(ctx.spark)
    graft.functions.ArgmaxDot.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    // the quantizer id cuts: one TakeOrdered over the id column, bounded
    // by max(nCells, nCodewords) rows on the driver — ~sqrt(N) at
    // production sizes, bounded by construction
    val nq = math.max(nCells, nCodewords)
    val qIds = e.select(col("vec_id")).orderBy(col("vec_id")).limit(nq)
      .collect().map(_.getLong(0))
    require(qIds.length >= nq,
      s"corpus has only ${qIds.length} vectors — the requested quantizer " +
        s"shape needs >= $nq (nCells=$nCells nCodewords=$nCodewords)")
    val cellCut = qIds(nCells - 1)
    val cwCut = qIds(nCodewords - 1)
    val seeds = e.filter(col("vec_id") <= cellCut)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    val sub = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"),
        col("embedding"))
      .select(col("vec_id"), col("s"), expr("slice(embedding, s * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") <= cwCut)
      .select(col("s"), col("vec_id").as("code"), col("sv").as("cv"))
    // metaCols ride INTO the coded table (FAISS-style stored attributes):
    // query's `where` predicate then evaluates map-side on the coded scan —
    // no allow-list join, no shuffle, the 100 TB filtered-serve shape
    val coded = encode(
      e.select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*), seeds, cb)
    // The four tables are independent publishes (the atomic generation
    // commit is the meta row below, not the order of these writes): run
    // them from a small thread pool so each write's scheduling/commit tail
    // back-fills the others' idle executors (guide §2.6) — at production
    // sizes coded+vectors are data-sized writes whose tails would otherwise
    // serialize.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val futs = Seq(
      "seeds" -> Future(Versioned.write(seeds, s"$dir/seeds"))(ec),
      "codebooks" -> Future(Versioned.write(cb, s"$dir/codebooks"))(ec),
      "coded" -> Future(Versioned.write(coded, s"$dir/coded"))(ec),
      "vectors" -> Future(Versioned.write(
        e.select("vec_id", "embedding"), s"$dir/vectors"))(ec))
    val versions =
      try futs.map { case (k, f) => k -> Await.result(f, Duration.Inf) }.toMap
      finally pool.shutdown()
    commitMeta(ctx.spark, dir, versions, batchId = -1L)
  }

  /** Encode `vecs` (vec_id, embedding) under FIXED quantizers: nearest-seed
    * cell plus the 8 PQ codes per vector. Shared by [[build]] and [[add]],
    * so an incremental add encodes exactly the way the original build did —
    * bit-identity by construction, not by parallel maintenance.
    *
    * The argmax runs through the PACKED native argmax_cosine
    * (functions.ArgmaxCosine), not a crossJoin + max_by: identical
    * assignment (same IEEE cosine op order, max-then-MIN-id ties —
    * AnnIndexSpec pins row-identity with annIvfPq), but the plan is a
    * broadcast join against ONE packed quantizer-matrix row + a map-side
    * projection: no n × nCells scored-row materialization and NO exchange
    * at all, where even the map-side partial max_by still iterated every
    * scored row through the agg (r12; the term that scales with a
    * production sqrt(N) cell count — semanticDedupPipeline passes ~1.4k
    * cells at SF100). */
  private def encode(vecs: DataFrame, seeds: DataFrame,
      cb: DataFrame): DataFrame = {
    // columns beyond the contract pair are stored index attributes
    // (build's metaCols): they ride the map-side cell-assignment
    // projection for free and land in the coded schema
    val meta = vecs.columns.filterNot(Set("vec_id", "embedding")).toSeq
    val sub = vecs.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"),
        col("embedding"))
      .select(col("vec_id"), col("s"), expr("slice(embedding, s * 8 + 1, 8)").as("sv"))
    val seedsPacked = seeds.agg(
      expr("flatten(transform(array_sort(collect_list(struct(cell_id, se))), x -> x.se))").as("smat"),
      expr("array_sort(collect_list(cell_id))").as("sids"))
    val assigned = vecs
      .crossJoin(broadcast(seedsPacked))
      .select(col("vec_id") +:
        expr("element_at(sids, argmax_cosine(embedding, smat) + 1)").as("cell_id") +:
        meta.map(col): _*)
    val cbPacked = cb.groupBy("s").agg(
      expr("flatten(transform(array_sort(collect_list(struct(code, cv))), x -> x.cv))").as("cmat"),
      expr("array_sort(collect_list(code))").as("codes_arr"))
    val codes = sub.join(broadcast(cbPacked), Seq("s"))
      .select(col("vec_id"), col("s"),
        expr("element_at(codes_arr, argmax_cosine(sv, cmat) + 1)").as("code"))
      // pack in subspace order: the vector's production PQ encoding
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), x -> x.code)")
        .as("codes"))
    assigned.join(codes, Seq("vec_id"))
      .select((Seq("vec_id", "cell_id", "codes") ++ meta).map(col): _*)
  }

  /** The generation commit: one row naming the four versions just
    * published, plus the streaming-ingest ledger (`batch_id` — the highest
    * stream batch folded into this generation, -1 when none) and the
    * tombstone-set version (`tombstones_v` — -1 when the generation has no
    * deletions). Readers pin on THIS row; until it lands, the new tables
    * are invisible (a crashed rebuild/add/remove leaves the old generation
    * serving). */
  private def commitMeta(spark: SparkSession, dir: String,
      versions: Map[String, Long], batchId: Long,
      tombstonesV: Long = -1L): Map[String, Long] = {
    val metaDf = spark.range(1).select(
      lit(versions("seeds")).as("seeds_v"),
      lit(versions("codebooks")).as("codebooks_v"),
      lit(versions("coded")).as("coded_v"),
      lit(versions("vectors")).as("vectors_v"),
      lit(batchId).as("batch_id"),
      lit(tombstonesV).as("tombstones_v"))
    versions + ("meta" -> Versioned.write(metaDf, s"$dir/meta"))
  }

  /** The generation's tombstone-set version: Some(v) when deletions are
    * pending materialization, None for a fresh build, a purge-compacted
    * generation, or a pre-tombstone meta row. */
  private def pinnedTombstones(spark: SparkSession, dir: String): Option[Long] =
    if (Versioned.latestVersion(spark, s"$dir/meta").isEmpty) None
    else {
      val m = Versioned.read(spark, s"$dir/meta")
      if (!m.columns.contains("tombstones_v")) None
      else Some(m.head().getAs[Long]("tombstones_v")).filter(_ >= 0)
    }

  /** Drop `tombstones` (distinct removed vec_ids) from a relation keyed by
    * vec_id. No broadcast hint: the tombstone set is usually tiny (AQE
    * broadcasts it), but a mass-delete should degrade to a shuffle join,
    * not an executor OOM. */
  private def dropTombstoned(rel: DataFrame,
      tombstones: Option[DataFrame]): DataFrame =
    tombstones.fold(rel)(t =>
      rel.join(t.select("vec_id").distinct(), Seq("vec_id"), "left_anti"))

  /** The streaming-ingest ledger: the `batch_id` the serving generation
    * carries (-1 for a fresh build, a pre-ledger index, or no index yet).
    * [[graft.streaming.Streams.annIngestSink]] consults it to skip
    * replayed microbatches — the generation commit and the ledger advance
    * in ONE meta row, so "the batch's rows are visible" and "the batch is
    * marked ingested" cannot diverge. */
  def lastIngestBatch(spark: SparkSession, dir: String): Long =
    if (Versioned.latestVersion(spark, s"$dir/meta").isEmpty) -1L
    else {
      val m = Versioned.read(spark, s"$dir/meta")
      if (m.columns.contains("batch_id")) m.head().getAs[Long]("batch_id")
      else -1L
    }

  /** Incrementally add a vector batch to the index — the FAISS `add`
    * shape, the ingest path that makes a persisted index maintainable
    * without rebuilds: encode `batch` (vec_id, embedding) under the
    * CURRENTLY PINNED generation's quantizers (seeds/codebooks are reused
    * untouched — no retraining), append the encoded rows to `coded` and
    * the raw rows to `vectors` as new Versioned snapshots, and commit a
    * new meta generation pinning (old seeds_v, old codebooks_v, new
    * coded_v, new vectors_v). Work is proportional to the BATCH, not the
    * corpus: the encode is one map-side pass over the batch against the
    * broadcast quantizers, and the appends stage only the batch's files
    * (Versioned append keeps prior files by reference).
    *
    * Because this index's quantizers are a pure function of the
    * generation (never retrained on add), `build(half) + add(rest)` is
    * BIT-IDENTICAL to `build(all)` whenever the rebuild would derive the
    * same quantizers — proven row-for-row in AnnIndexSpec. Crash safety is
    * the meta rule: readers pin the last committed generation, so a crash
    * anywhere inside add leaves the previous index serving; the appended
    * but unpinned snapshots are invisible. RETRY safety is the appendBase
    * rule: both appends anchor on the PINNED versions, not the table tips,
    * so a retry after a crashed add starts from the same generation the
    * crashed attempt did — the orphan files the crash left on the tips are
    * discarded, never duplicated into the new snapshot (spec-pinned).
    * Corollary: concurrent adds to one index serialize externally, the
    * contract concurrent builds already have (last meta commit wins).
    *
    * Rejects vec_ids already present (a silent duplicate would double rows
    * in every downstream consumer); the check joins the bounded batch
    * against the pinned coded relation, not corpus x corpus.
    *
    * `batchId` threads the streaming-ingest ledger: a non-negative id is
    * recorded in the new generation's meta row and must exceed the ledger
    * (an already-ingested id fails loudly — the sink's skip handles the
    * routine replay case BEFORE calling here); a manual add (batchId = -1)
    * carries the previous ledger value forward so interleaved manual adds
    * don't reset stream-replay protection. */
  def add(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long = -1L): Map[String, Long] = {
    graft.functions.CosineSim.register(spark)
    graft.functions.ArgmaxDot.register(spark)
    val pin = pinnedVersions(spark, dir)
    require(pin.values.forall(_.isDefined),
      s"add requires a meta-pinned index generation at $dir (pre-meta " +
        "indexes must be rebuilt once to gain a generation row)")
    val ledger = lastIngestBatch(spark, dir)
    require(batchId < 0 || batchId > ledger,
      s"stream batch $batchId already ingested at $dir (ledger: $ledger)")
    val seeds = Versioned.read(spark, s"$dir/seeds", pin("seeds"))
    val cb = Versioned.read(spark, s"$dir/codebooks", pin("codebooks"))
    // STABILIZE the batch before the first action: add runs three actions
    // over this plan (clash-check count, encode -> coded append, vectors
    // append), and a nondeterministic caller plan (limit/sample without an
    // ordering) could otherwise commit coded and vectors snapshots with
    // DIFFERENT row sets under one generation — coded rows without a vector
    // twin are silently dropped by query's rerank join, and unsearchable
    // vectors block future re-adds via the collision guard. persist() pins
    // one materialization for all three actions; the row-parity require
    // below backstops the pathological recompute (executor loss mid-add)
    // before anything becomes visible.
    // the index's stored attributes (build's metaCols) are whatever the
    // pinned coded schema carries beyond the encoding triple — the batch
    // must supply the same columns or the append would shear the schema
    val codedPinned = Versioned.read(spark, s"$dir/coded", pin("coded"))
    val metaCols = codedPinned.columns
      .filterNot(Set("vec_id", "cell_id", "codes")).toSeq
    val missing = metaCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"add batch lacks the index's stored attribute column(s) " +
        s"${missing.mkString(", ")} at $dir")
    val b = batch.select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*)
      .persist()
    try {
      val clashes = b.join(codedPinned.select("vec_id"), Seq("vec_id"), "left_semi")
        .limit(1).count()
      require(clashes == 0,
        s"add batch contains vec_ids already present in the index at $dir")
      val codedV = Versioned.write(encode(b, seeds, cb), s"$dir/coded",
        mode = "append", appendBase = pin("coded"))
      val vectorsV = Versioned.write(b.select("vec_id", "embedding"),
        s"$dir/vectors", mode = "append", appendBase = pin("vectors"))
      // coded and vectors must describe the SAME row set in every pinned
      // generation; counts are parquet-metadata reads (bounded, no scan).
      // A mismatch aborts BEFORE the meta commit — the old generation keeps
      // serving and the orphan snapshots are discarded on retry (appendBase).
      val codedN = Versioned.read(spark, s"$dir/coded", Some(codedV)).count()
      val vecN = Versioned.read(spark, s"$dir/vectors", Some(vectorsV)).count()
      require(codedN == vecN,
        s"add staged divergent snapshots (coded $codedN vs vectors $vecN " +
          s"rows) — batch plan not deterministic across actions; aborting " +
          "before the meta commit (previous generation still serves)")
      commitMeta(spark, dir,
        Map("seeds" -> pin("seeds").get, "codebooks" -> pin("codebooks").get,
          "coded" -> codedV, "vectors" -> vectorsV),
        batchId = if (batchId >= 0) batchId else ledger,
        tombstonesV = pinnedTombstones(spark, dir).getOrElse(-1L))
    } finally {
      b.unpersist()
      ()
    }
  }

  /** Delete vectors from the index — the tombstone shape (FAISS
    * IDSelector / lakehouse deletion-vector semantics): `ids` (vec_id)
    * join the generation's tombstone SET, published as a new tombstones
    * snapshot and pinned by a new meta generation; `coded`/`vectors`
    * files are untouched, so a remove costs O(ids), not a corpus rewrite.
    * Serving paths anti-join the tombstone set; [[compact]] MATERIALIZES
    * the deletions (rewrites without the tombstoned rows and clears the
    * set) — until then a removed id cannot be re-added (its rows still
    * exist under the tombstone; [[add]]'s collision guard rejects it).
    * Crash/retry safety is the same meta rule as add: the tombstone
    * append anchors on the pinned set (orphans discarded), and nothing is
    * visible until the meta row lands. Removing an absent id is a no-op
    * by construction (anti-join semantics). */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Map[String, Long] = {
    val pin = pinnedVersions(spark, dir)
    require(pin.values.forall(_.isDefined),
      s"remove requires a meta-pinned index generation at $dir")
    val prevT = pinnedTombstones(spark, dir)
    val t = ids.select(col("vec_id")).distinct()
    val tv = prevT match {
      case Some(v) => Versioned.write(t, s"$dir/tombstones", mode = "append",
        appendBase = Some(v))
      case None => Versioned.write(t, s"$dir/tombstones")
    }
    commitMeta(spark, dir,
      Map("seeds" -> pin("seeds").get, "codebooks" -> pin("codebooks").get,
        "coded" -> pin("coded").get, "vectors" -> pin("vectors").get),
      batchId = lastIngestBatch(spark, dir), tombstonesV = tv)
  }

  /** Resolve the generation to serve: the latest meta row's pinned
    * versions (one-row collect — bounded by construction). Indexes built
    * before the meta-manifest existed (no `meta` table) fall back to
    * latest-per-table, which is only consistent under serialized builds —
    * the documented pre-r11 behavior. */
  private def pinnedVersions(spark: SparkSession, dir: String): Map[String, Option[Long]] =
    if (Versioned.latestVersion(spark, s"$dir/meta").isEmpty)
      Tables.map(_ -> (None: Option[Long])).toMap
    else {
      // by NAME, not position: a future meta field addition/reorder must
      // throw (unresolvable column), never silently pin the wrong table
      // versions (r11 advice)
      val row = Versioned.read(spark, s"$dir/meta").head()
      Tables.map(t => t -> Some(row.getAs[Long](s"${t}_v"))).toMap
    }

  /** Collapse the pinned generation's `coded`/`vectors` into `nFiles` data
    * files each and publish the result as a NEW generation — the
    * small-files maintenance a streaming-ingested index needs: every
    * [[add]] appends its batch as fresh files, so a long-running
    * [[graft.streaming.Streams.annIngestSink]] accretes one file set per
    * microbatch and scan fan-out degrades. Pending [[remove]] tombstones
    * are MATERIALIZED here (the rewrite drops the tombstoned rows and the
    * new generation carries an empty tombstone set — lakehouse
    * purge-on-rewrite). Live rows, quantizers, the ingest ledger, and
    * serving results carry UNCHANGED (spec-pinned); readers keep the old
    * generation until the meta commit lands (crash-safe like every other
    * publish here), and superseded files remain time-travelable until
    * `Versioned.vacuum`. */
  def compact(spark: SparkSession, dir: String, nFiles: Int = 8): Map[String, Long] = {
    require(nFiles >= 1, s"nFiles must be >= 1: $nFiles")
    val pin = pinnedVersions(spark, dir)
    require(pin.values.forall(_.isDefined),
      s"compact requires a meta-pinned index generation at $dir")
    val tomb = pinnedTombstones(spark, dir)
      .map(v => Versioned.read(spark, s"$dir/tombstones", Some(v)))
    val versions = Map(
      "seeds" -> pin("seeds").get,
      "codebooks" -> pin("codebooks").get,
      "coded" -> Versioned.write(
        dropTombstoned(Versioned.read(spark, s"$dir/coded", pin("coded")), tomb)
          .repartition(nFiles),
        s"$dir/coded"),
      "vectors" -> Versioned.write(
        dropTombstoned(Versioned.read(spark, s"$dir/vectors", pin("vectors")), tomb)
          .repartition(nFiles),
        s"$dir/vectors"))
    commitMeta(spark, dir, versions, batchId = lastIngestBatch(spark, dir))
  }

  /** Serve IVFADC top-k from the persisted index: `queries` is
    * (query_id, qe: array<float>). Output schema and every tie-break are
    * identical to [[Similarity.annIvfPq]]'s:
    * (query_id, cand_id, cell_id, approx: double, cosine, rank).
    *
    * Table reads are pinned to one meta generation (see object scaladoc);
    * scoring is the packed ADC fold — one slot-array lookup per subspace
    * per candidate, no per-subspace rows, no re-aggregation. */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 2, shortlist: Int = 20,
      allowed: Option[DataFrame] = None,
      where: Option[Column] = None): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val pin = pinnedVersions(spark, dir)
    val seeds = Versioned.read(spark, s"$dir/seeds", pin("seeds"))
    val cb = Versioned.read(spark, s"$dir/codebooks", pin("codebooks"))
    // pending deletions hide at the candidate source: a tombstoned vector
    // can never appear in any shortlist (vectors joins by cand_id later,
    // so filtering coded covers the whole pipeline)
    val tomb = pinnedTombstones(spark, dir)
      .map(v => Versioned.read(spark, s"$dir/tombstones", Some(v)))
    // FILTERED serve (the FAISS-IDSelector shape): `allowed` is a
    // one-column (vec_id) allow-list — the result of any metadata
    // predicate evaluated OUTSIDE the index. It pre-filters the coded
    // candidate stream via left-semi BEFORE ADC scoring, so the ADC
    // shortlist is drawn entirely from admissible vectors and a filtered
    // query still fills all k slots (a post-filter on the final top-k
    // would return fewer the more selective the predicate). Same
    // placement as the tombstone drop: filtering `coded` covers the
    // whole downstream pipeline.
    // `where` is the stronger form when the index stores the attribute
    // (build's metaCols): a plain predicate over coded's own columns,
    // evaluated MAP-SIDE on the candidate scan — no join at all, where
    // the allow-list costs a (broadcastable) semi-join. Both pre-filter
    // before ADC, so either way filtered queries fill all k slots.
    val coded = allowed.foldLeft(where.foldLeft(dropTombstoned(
      Versioned.read(spark, s"$dir/coded", pin("coded")), tomb)) {
      (c, w) => c.filter(w)
    }) {
      (c, a) => c.join(a.select(col("vec_id")).distinct(), Seq("vec_id"), "left_semi")
    }
    val vectors = Versioned.read(spark, s"$dir/vectors", pin("vectors"))
    // slot-array width: codes are the RAW codebook ids persisted at build
    // time (vec_ids — NOT densely reindexed, so remapping candidates is
    // never needed at serve time); the query array simply spans
    // [0, max code] with decimal-0 padding in unreferenced slots. The
    // codebook is the broadcast-tiny relation, so this is a bounded
    // metadata action, not a data-scaled collect.
    val nSlots = cb.agg(max(col("code"))).head().getLong(0).toInt + 1
    val probes = queries.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("cell_id"),
        expr("cosine_sim(qe, se)").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select("query_id", "cell_id")
    // per-query ADC table, packed: one decimal(12,9) slot array of length
    // 8 * nSlots per query (subspace-major, slot = s * nSlots + code)
    val qarr = queries
      .select(col("query_id"), explode(expr("sequence(0, 7)")).as("s"), col("qe"))
      .select(col("query_id"), col("s"), expr("slice(qe, s * 8 + 1, 8)").as("qv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"),
        col("code").cast("int").as("code"),
        round(expr("cosine_sim(qv, cv)"), 9).cast("decimal(12,9)").as("qdec"))
      .groupBy(col("query_id"), col("s"))
      .agg(map_from_entries(collect_list(struct(col("code"), col("qdec")))).as("m"))
      .select(col("query_id"), col("s"),
        expr(s"""transform(sequence(0, ${nSlots - 1}),
           c -> coalesce(element_at(m, c), CAST(0 AS DECIMAL(12,9))))""").as("sarr"))
      .groupBy("query_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, sarr))), x -> x.sarr))")
        .as("qarr"))
    // candidates = coded vectors in probed cells, ONE row per candidate —
    // the packed codes array never unpacks; the score is 8 slot lookups
    // UNROLLED into one flat expression, accumulating the same
    // decimal(12,9) values the old per-subspace sum() added (decimal
    // addition is exact and order-free, so the result is bit-identical).
    // Unrolled, not an aggregate() fold: higher-order functions are
    // CodegenFallback, and the interpreted per-row eval measured 2.6-3x
    // the cost of this whole-stage-codegen'd sum at 900k candidates
    // (PERF_NOTES_r11.md: 8.2 s HOF-decimal vs 2.8-3.6 s unrolled; a
    // double-typed fold read 7.8 s, proving the tax is the HOF fallback,
    // not decimal arithmetic)
    val adcSum = (0 until 8)
      .map(s => s"element_at(qarr, CAST($s * $nSlots + " +
        s"element_at(codes, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    val adc = probes
      .join(coded.select(col("cell_id"), col("vec_id").as("cand_id"),
        col("codes")), Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(qarr), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        expr(s"CAST($adcSum AS DECIMAL(22,9))").as("approx"))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("cand_id"))))
      .filter(col("rn") <= shortlist)
      .select("query_id", "cand_id", "cell_id", "approx")
    short.join(queries, Seq("query_id"))
      .join(vectors.select(col("vec_id").as("cand_id"), col("embedding").as("ce")),
        Seq("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        col("approx").cast("double").as("approx"),
        expr("cosine_sim(qe, ce)").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }

  /** SEMANTIC DEDUP served from the persisted index — the SemDeDup
    * production shape (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): cluster the
    * corpus with the index's coarse quantizer, then inside each cluster
    * drop every vector whose cosine to ANY lower-id cluster-mate reaches
    * `tau` (the paper's upper-triangular similarity-matrix rule — the
    * decision depends only on earlier ids, never on whether the earlier
    * id was itself dropped, so it parallelizes with no sequential pass).
    *
    * Everything is read FROM the index generation the meta-manifest pins:
    * cell assignments from `coded`, float vectors (for the exact
    * within-cell cosines) from `vectors` — this is the pipeline consumer
    * the persisted index exists for, and a rebuild racing this query can
    * never mix generations (object scaladoc). One row per corpus vector:
    * (vec_id, cell_id, n_dup_lower, dup_witness, max_cosine_lower, keep).
    *
    * At 100 TB: clusters are the quadratic hazard — within-cell pairs go
    * through the same triangle-split used by the LSH pair scans
    * ([[Similarity.bucketSelfPairs]]: a hot cell's pair output spreads
    * over 36 shuffle keys instead of one task), and a production build
    * passes ~sqrt(N) cells so expected cell size is sqrt(N), keeping the
    * total pair count ~N^1.5 — never the corpus self-join. */
  def semanticDedup(spark: SparkSession, dir: String,
      tau: Double = 0.4): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val pin = pinnedVersions(spark, dir)
    val tomb = pinnedTombstones(spark, dir)
      .map(v => Versioned.read(spark, s"$dir/tombstones", Some(v)))
    val coded = dropTombstoned(
        Versioned.read(spark, s"$dir/coded", pin("coded")), tomb)
      .select(col("vec_id"), col("cell_id"))
    val vectors = Versioned.read(spark, s"$dir/vectors", pin("vectors"))
    val members = coded.join(vectors, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), lit(0L).as("label"),
        col("cell_id").as("bucket"))
    val pairs = Similarity.bucketSelfPairs(members)
      .select(
        col("__a.vec_id").as("vec_lo"), col("__b.vec_id").as("vec_hi"),
        expr("cosine_sim(__a.embedding, __b.embedding)").as("cosine"))
    // roll up onto the HIGHER id: SemDeDup keeps the first (lowest-id)
    // member of every near-dup set and drops later ones
    val perHi = pairs
      .groupBy(col("vec_hi").as("vec_id"))
      .agg(
        max(col("cosine")).as("max_cosine_lower"),
        count(when(col("cosine") >= tau, lit(1))).as("n_dup_lower"),
        min(when(col("cosine") >= tau, col("vec_lo"))).as("dup_witness"))
    coded.join(perHi, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"),
        col("dup_witness"), col("max_cosine_lower"),
        (coalesce(col("n_dup_lower"), lit(0L)) === 0).as("keep"))
  }

  /** The full build→serve semantic-dedup pipeline over `ctx`'s corpus —
    * the Registry's `dedup_semantic` entry: publish a fresh index
    * generation sized production-style (ceil(sqrt(N)) coarse cells, so
    * expected cell occupancy is ~sqrt(N) and the within-cell pair scan is
    * ~N^1.5, never quadratic), then run [[semanticDedup]] against the
    * pinned generation just committed. EAGER by nature and by name: an
    * index BUILD is actions (the Versioned publishes) — consumers timing
    * this entry must start their clock before construction, which the
    * driver's inclusive fn(spark, dir) timing and the in-repo bench do.
    * Old generations are vacuumed age-guarded (never the one just
    * published), so repeated runs don't accrete forever. */
  def semanticDedupPipeline(ctx: Ctx, tau: Double = 0.4): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(ctx.dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft-semdedup/$digest"
    val n = ctx.tbl("embeddings").count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
    build(ctx, dir, nCells = nCells)
    Tables.foreach(t => Versioned.vacuum(ctx.spark, s"$dir/$t", keepVersions = 2))
    Versioned.vacuum(ctx.spark, s"$dir/meta", keepVersions = 2)
    semanticDedup(ctx.spark, dir, tau)
  }

  /** Index-served FILTERED search as a declared pipeline — the registry
    * twin of [[Similarity.annIvfPq]] plus a stored-attribute predicate:
    * builds the default-geometry index WITH `label` as a stored attribute
    * (build metaCols) under a corpus-keyed scratch dir, then serves the
    * standard query set (vec_id in [10, 20)) restricted MAP-SIDE to
    * vec_id 0's label. The predicate prunes the coded candidate stream
    * before ADC, so the shortlist and the final k are drawn entirely from
    * admissible vectors. EAGER at construction like
    * [[semanticDedupPipeline]] (an index build is actions; the driver
    * times the pipeline inclusively); the oracle mirrors the full IVFADC
    * math with the same pre-shortlist label filter. */
  def filteredServePipeline(ctx: Ctx): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${ctx.dir}/filtered".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dir = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft-annfiltered/$digest"
    build(ctx, dir, metaCols = Seq("label"))
    Tables.foreach(t => Versioned.vacuum(ctx.spark, s"$dir/$t", keepVersions = 2))
    Versioned.vacuum(ctx.spark, s"$dir/meta", keepVersions = 2)
    val emb = ctx.tbl("embeddings")
    val target = emb.filter(col("vec_id") === 0).select("label").head().get(0)
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    query(ctx.spark, dir, queries, where = Some(col("label") === target))
  }
}
