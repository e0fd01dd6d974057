package graft.extensions

import graft.{Ctx, Macros => M}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table (doc_id, text,
  * lang, source, n_chars) — no reference counterpart; these are the
  * large-scale pipeline operations (dedup, language id, quality scoring,
  * fingerprinting) a 100 TB corpus needs, built Spark-first:
  * explode -> distinct -> partial-aggregate shapes that shuffle once on
  * doc_id or shingle and scale linearly with corpus size.
  *
  * Every string op here has an exact DuckDB twin in the Registry oracle
  * (regex dialect kept to the portable subset; md5 for all hashing since it
  * is bit-identical across engines).
  */
object Text {
  import M._

  /** whitespace tokens of lowercased text, empties removed — the native
    * codegen'd one-pass form of filter(split(lower(text),'\s+'), x -> x!='')
    * (bit-identical: TextGramsSpec; ArrayFilter is CodegenFallback and cost
    * an interpreted pass per token in every docsTok consumer). */
  private val toksExpr = "ws_tokens(text)"

  /** word 3-gram shingles over a MATERIALIZED `toks` column — the native
    * one-pass [[graft.functions.Ngrams]] (bit-identical to the transform/
    * concat HOF spelling it replaces; TextGramsSpec). */
  private val shinglesOfToks = "ngrams(toks, 3, 1)"

  private def docs(ctx: Ctx): DataFrame = {
    graft.functions.TextGrams.register(ctx.spark)
    graft.functions.Md5Mins.register(ctx.spark)
    graft.functions.CountInSet.register(ctx.spark)
    ctx.tbl("documents")
  }

  /** documents + tokens column (the twin of the oracle's r_toks CTE).
    * Deliberately NOT repartitioned after the (single-row-group, so
    * one-task) scan: measured at sf0.1, an explicit exchange here makes
    * every text query SLOWER (+1.5-3 s each) because shingle consumers
    * re-evaluate this relation several times per plan and each evaluation
    * would pay the extra shuffle stage, while the explode itself is cheap
    * enough that the first aggregation shuffle already parallelizes the
    * heavy work. (Contrast ods_orders_items, where the compute sits in the
    * projection BEFORE any shuffle and a keyed repartition wins 2x.) */
  private[graft] def docsTok(ctx: Ctx): DataFrame =
    docs(ctx).withColumn("toks", expr(toksExpr))

  /** raw exploded (doc_id, shingle) pairs, duplicates included — the base
    * relation for MinHash / Jaccard. At scale this is the one big explode;
    * everything downstream is partial-aggregatable. Deliberately NOT
    * persisted: the explode is cheaper to recompute fused into each
    * consumer than to materialize (measured: persisting cost +6s on the
    * MinHash pipeline at sf0.1). Deduplication happens inside the
    * consumers' aggregates (collect_set in [[shingleArr]]). */
  private[graft] def shinglePairs(ctx: Ctx): DataFrame =
    docsTok(ctx)
      .select(col("doc_id"), explode(expr(shinglesOfToks)).as("shingle"))


  /** One row per doc holding its whole shingle SET as an array, memoized and
    * persisted per (session, sfDir): every shingle consumer (MinHash
    * signatures, exact-Jaccard verifies, fingerprints, decontamination)
    * derives narrowly from this one evaluation of the explode + distinct
    * instead of re-running it per plan branch. Array length is bounded by
    * document length, not corpus size; a cluster-scale run would back this
    * with a bucketed write instead of an in-memory persist. */
  private[graft] def shingleArr(ctx: Ctx): DataFrame =
    graft.Store.memo(ctx, "doc_shingle_sets") {
      graft.Store.track(ctx.spark,
        // collect_set straight off the raw pairs: ONE doc-keyed shuffle,
        // with the dedup happening inside the map-side partial sets — the
        // distinct + collect_list form paid a second full pair-sized
        // exchange for nothing (4x at SF10, PERF_NOTES_r8.md; consumers are
        // order-insensitive: mins / sizes / intersect-size / re-explodes)
        shinglePairs(ctx).groupBy("doc_id")
          // serialized storage: wide string-array rows deserialized are
          // several× their batch size and evict first under sweep-wide
          // memory pressure (the r3 stall diagnosis) — keep them compact
          .agg(collect_set(col("shingle")).as("shingles"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    }

  /** Token counting: whitespace tokens + a BPE-ish regex token stream. */
  def tokenCount(ctx: Ctx): DataFrame =
    docsTok(ctx).select(
      col("doc_id"),
      col("n_chars"),
      size(col("toks")).as("n_tokens"),
      size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]', 0)"))
        .as("n_bpe_tokens"),
      dv(length(regexp_replace(col("text"), "\\s+", "")), nullifZero(size(col("toks"))))
        .as("avg_token_len"))

  /** PII detection + redaction — the scrub pass every training corpus runs
    * before release: count and replace emails / phone numbers / IPv4
    * addresses with typed placeholders. Pure map-side regex work (no
    * shuffle at all before the output sort) — at 100 TB this runs at scan
    * speed and composes with any downstream selection. The testdata
    * documents carry no PII, so the operator PLANTS deterministic
    * occurrences first (doc_id-keyed, mirrored exactly in the oracle) —
    * the same planted-ground-truth pattern as the synth near-duplicates —
    * which also gives the spec known counts to assert. Patterns are kept
    * in the common subset of Java regex and RE2 so the Spark and DuckDB
    * twins match byte for byte. */
  def piiRedact(ctx: Ctx): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val ipRe = "[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}"
    val planted = docs(ctx).select(
      col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call 555-123-4567")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" from 10.0.123.45")).otherwise(lit("")))
        .as("raw"))
    planted.select(
      col("doc_id"), col("source"),
      size(expr(s"regexp_extract_all(raw, '$emailRe', 0)")).as("n_emails"),
      size(expr(s"regexp_extract_all(raw, '$phoneRe', 0)")).as("n_phones"),
      size(expr(s"regexp_extract_all(raw, '$ipRe', 0)")).as("n_ips"),
      expr(s"""length(regexp_replace(regexp_replace(regexp_replace(raw,
        '$emailRe', '[EMAIL]'), '$phoneRe', '[PHONE]'), '$ipRe', '[IP]'))""")
        .as("redacted_chars"))
      .withColumn("is_clean",
        col("n_emails") + col("n_phones") + col("n_ips") === 0)
      .orderBy("doc_id")
  }

  /** Training-chunk construction: fixed token windows (size `w`, stride
    * `s`, so `w - s` tokens of overlap carry context across boundaries)
    * with full provenance (doc, ordinal, start offset) and a content hash
    * that links straight into the chunk-dedup family — the
    * document→context-window pass between curation and tokenization.
    * Pure map-side explode (chunk count per doc bounded by doc length);
    * the count-per-doc window is partitioned by doc_id. */
  def corpusChunk(ctx: Ctx, w: Int = 64, s: Int = 48): DataFrame = {
    val chunked = docsTok(ctx)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_toks"))
      .select(col("doc_id"), col("n_toks"), col("toks"),
        explode(expr(s"sequence(0, n_toks - 1, $s)")).as("chunk_start"))
      .select(col("doc_id"), col("n_toks"),
        expr(s"CAST(chunk_start DIV $s AS INT)").as("chunk_idx"),
        col("chunk_start"),
        expr(s"slice(toks, chunk_start + 1, $w)").as("__ct"))
    chunked.select(
        col("doc_id"), col("chunk_idx"), col("chunk_start").cast("long").as("chunk_start"),
        size(col("__ct")).as("chunk_len"),
        md5(array_join(col("__ct"), " ")).as("chunk_hash"),
        count(lit(1)).over(Window.partitionBy("doc_id")).as("n_chunks"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Quality scoring: punctuation/digit/upper ratios + stopword density and
    * a deterministic composite score. The char-class counts go through
    * `translate` (a codegen'd byte-table pass), not regexp_replace: the
    * classes are fixed ASCII sets, so removing those characters counts
    * identically either way — the DuckDB twin keeps its regex form and the
    * gate checks value equality. */
  def quality(ctx: Ctx): DataFrame = {
    val nTokens = size(col("toks"))
    val punct = length(col("text")) - length(translate(col("text"), ".,;:!?", ""))
    val digits = length(col("text")) - length(translate(col("text"), "0123456789", ""))
    val uppers = length(col("text")) -
      length(translate(col("text"), ('A' to 'Z').mkString, ""))
    // native codegen'd membership count (== size(filter(toks,
    // x -> array_contains(array(...), x))), Md5MinsSpec) — the filter
    // lambda was interpreted per token on a corpus-wide scan
    val stops = expr("count_in_set(toks, 'the,and,of,to,in,is,you,that,it,for')")
    docsTok(ctx).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      nTokens.as("n_tokens"),
      dv(punct, nullifZero(length(col("text")))).as("punct_ratio"),
      dv(digits, nullifZero(length(col("text")))).as("digit_ratio"),
      dv(uppers, nullifZero(length(col("text")))).as("upper_ratio"),
      dv(stops, nullifZero(nTokens)).as("stopword_ratio"),
      (dv(stops, nullifZero(nTokens)) * 0.5
        + (lit(1d) - dv(punct, nullifZero(length(col("text"))))) * 0.3
        + (lit(1d) - dv(digits, nullifZero(length(col("text"))))) * 0.2)
        .as("quality_score"))
  }

  /** Language identification via stopword-hit voting (en/de/fr), with a
    * deterministic tie rule. */
  def languageId(ctx: Ctx): DataFrame = {
    // native codegen'd membership counts — see [[quality]]'s stops note
    def hits(words: String) = expr(s"count_in_set(toks, '$words')")
    val en = hits("the,and,of,to,in,is,you,that,it,for")
    val de = hits("der,die,und,das,ist,nicht,mit,ein,auf,sie")
    val fr = hits("le,la,les,et,un,une,est,pour,dans,que")
    docsTok(ctx).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"),
      when(en >= de && en >= fr, "en")
        .when(de >= fr, "de")
        .otherwise("fr").as("predicted_lang"))
  }

  /** Document fingerprinting: md5 of whitespace-normalized text plus the
    * min shingle hash (winnowing-style content fingerprint). */
  def fingerprint(ctx: Ctx): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    docs(ctx)
      .join(shingleArr(ctx).select(col("doc_id"),
        size(col("shingles")).cast("long").as("shingle_count"),
        // native codegen'd min-of-md5 (== array_min(transform(shingles,
        // x -> md5(x))), Md5MinsSpec) — the transform lambda was interpreted
        // per shingle on the map side of the corpus scan
        expr("min_md5(shingles)").as("min_shingle_hash")),
        Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        md5(norm).as("fingerprint"),
        coalesce(col("shingle_count"), lit(0L)).as("shingle_count"),
        col("min_shingle_hash"))
  }

  /** Language-ID evaluation: confusion matrix of predicted vs labeled
    * language, with each cell's share of its labeled-language row total.
    * One partial-aggregatable groupBy over the per-doc predictions plus a
    * window PARTITIONED on labeled_lang (bounded by the language count, so
    * no single-task funnel at any corpus size). */
  def langConfusion(ctx: Ctx): DataFrame = {
    val cells = languageId(ctx)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val wLab = Window.partitionBy(col("labeled_lang"))
    cells.select(
      col("labeled_lang"), col("predicted_lang"), col("n_docs"),
      dv(col("n_docs"), sum(col("n_docs")).over(wLab)).as("labeled_share"),
      (col("labeled_lang") === col("predicted_lang")).as("is_correct"))
  }

  /** Quality-ranked token-budget selection (the FineWeb/"keep the best half
    * of the corpus" curation step): rank all documents by quality score,
    * run a global token cumsum in that order, and mark the prefix whose
    * cumulative token count stays within the budget (half the corpus's
    * total tokens, compared integer-exactly as 2*cum <= total).
    *
    * The global ordering + running sum is the two-phase
    * [[graft.operators.Scale.globalOrder]] rewrite — range-partitioned rank
    * and cumsum with broadcast prefix offsets, no single-partition window —
    * so the selection scales to a 100 TB corpus unchanged. */
  def tokenBudget(ctx: Ctx): DataFrame = {
    val base = quality(ctx).select(
      col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens"),
      col("quality_score"))
    graft.operators.Scale.globalOrder(base,
      order = Seq(col("quality_score").desc, col("doc_id")),
      rn = Some("quality_rank"),
      cums = Seq("n_tokens" -> "cum_tokens"),
      totals = Seq("n_tokens" -> "total_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("quality_score"),
        col("quality_rank"),
        col("cum_tokens").cast("long").as("cum_tokens"),
        col("total_tokens").cast("long").as("total_tokens"),
        (lit(2) * col("cum_tokens") <= col("total_tokens")).as("selected"))
  }

  /** Per-source quality profile (the "which sources to downweight" view):
    * count, exact mean (decimal-sum, shuffle-order-independent), median via
    * percentile_cont, min/max, and the share of docs clearing the
    * quality>=0.5 curation bar. One partial-aggregatable groupBy on source —
    * scale-free. */
  def sourceQualityProfile(ctx: Ctx): DataFrame = {
    val q = quality(ctx).select(col("doc_id"), col("quality_score"))
      .join(docs(ctx).select(col("doc_id"), col("source")), Seq("doc_id"))
    q.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      dv(sum(col("quality_score").cast("decimal(38,12)")).cast("double"),
        count(lit(1))).as("avg_quality"),
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY quality_score)")
        .as("median_quality"),
      min("quality_score").as("min_quality"),
      max("quality_score").as("max_quality"),
      dv(sum(when(col("quality_score") >= 0.5, 1).otherwise(0)),
        count(lit(1))).as("share_above_half"))
  }

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint; keeps the
    * lowest doc_id per group (the canonical scalable dedup shape: one
    * shuffle on the hash). */
  def dedupExact(ctx: Ctx): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    docs(ctx).select(col("doc_id"), md5(norm).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("keep_doc_id"),
        (count(lit(1)) > 1).as("has_duplicates"))
  }

  /** 16 min-hash columns h0..h15 from FOUR md5 digests per shingle instead
    * of sixteen: seed-j md5 (j = 0..3) contributes four 8-hex-char (32-bit)
    * slices. Slices of a well-mixed digest behave as independent uniform
    * hashes for min-wise use (the Kirsch-Mitzenmacher "less hashing, same
    * performance" observation) — and the digest pass was the single
    * biggest cost of the SF100 dedup_minhash_lsh leg (~half of 250 s), so
    * 4x fewer md5 evaluations is the honest lever. The digest concat is
    * computed in ONE array pass; the 16 mins are cheap slice traversals.
    * Must stay in lockstep with Registry's duckSig16Body oracle twin. */
  private[graft] def minhash16(docArr: DataFrame): DataFrame = {
    // native one-pass expression (functions.MinHashSig16) — the composed
    // transform/array_min form costs ~3x the digest work in array-pass
    // overhead (PERF_NOTES_r8.md); value-identical
    graft.functions.MinHashSig16.register(docArr.sparkSession)
    docArr.withColumn("hs", expr("minhash16_sig(shingles)"))
      .select(col("doc_id") +: (0 until 16).map(i =>
        expr(s"hs[$i]").as(s"h$i")): _*)
  }

  /** MinHash + LSH near-dup detection: shingle -> 16 md5-based min-hashes ->
    * 4 bands of 4 -> band-bucket self-join for candidates -> exact Jaccard
    * verification. The band join is the scale path: candidates are generated
    * per-bucket, never all-pairs. */
  def dedupMinhashLsh(ctx: Ctx): DataFrame = {
    // signatures and set sizes derive narrowly from the shared shingle-set
    // arrays; the exact verify is array_intersect on two doc-keyed joins
    // instead of two (doc, shingle)-pair shuffles
    val docArr = shingleArr(ctx)
    // unpivot bands to rows -> ONE self-join keyed on (band_idx, band_hash)
    // instead of four — single shuffle, the standard LSH bucket-join shape
    val bandRows = bandRowsOf(docArr)
    val cands = bandRows.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(bandRows.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    cands
      .join(docArr.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(docArr.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        inter.as("intersection"),
        union.as("union_size"),
        dv(inter, nullifZero(union)).as("jaccard"),
        (dv(inter, nullifZero(union)) >= 0.5).as("is_near_duplicate"))
  }

  /** Incremental corpus dedup — the production pattern at 100 TB: a NEW
    * batch of documents is deduplicated AGAINST the existing corpus by
    * probing the corpus's MinHash band index with the batch's band
    * signatures (one band-keyed equi-join, batch side broadcast-able),
    * never by re-hashing or self-joining the corpus. The corpus/batch
    * split here is a deterministic md5 draw (~1/4 of docs are "new"); in
    * production the corpus band rows are a bucketed table maintained by
    * the incremental sink (graft.Incremental), so each arriving batch
    * costs |batch| signatures + one bucket-probe + exact verification on
    * the candidates only. Within-batch duplicates are the existing
    * self-join operators' job ([[dedupMinhashLsh]] over the batch alone).
    *
    * One row per new doc: candidate count from the band probe, verified
    * near-dup count (exact Jaccard >= 0.5), max Jaccard over candidates,
    * a deterministic duplicate witness (lowest corpus doc id among
    * verified dups), and the keep/drop decision. */
  def dedupIncremental(ctx: Ctx): DataFrame = {
    val docArr = shingleArr(ctx)
    val isNew =
      substring(md5(concat(lit("ibatch|"), col("doc_id").cast("string"))), 1, 1) < "4"
    // band rows are per-doc, so banding-then-splitting equals
    // splitting-then-banding: the corpus legs reuse the shared probe core
    val corpusArr = docArr.filter(!isNew)
    dedupBatchAgainstCorpus(
      docs(ctx).select(col("doc_id")).filter(isNew),
      docArr.filter(isNew),
      bandRowsOf(corpusArr),
      corpusArr)
  }

  /** 4-band LSH band rows (band_idx, band_hash) of a doc/shingle-set
    * relation — the banded index both the self-join dedup and the
    * batch-probe dedup key on. */
  private[graft] def bandRowsOf(docArr: DataFrame): DataFrame =
    minhash16(docArr).select(col("doc_id"), expr(
      """stack(4,
        |  0, md5(concat(h0, h1, h2, h3)),
        |  1, md5(concat(h4, h5, h6, h7)),
        |  2, md5(concat(h8, h9, h10, h11)),
        |  3, md5(concat(h12, h13, h14, h15))) AS (band_idx, band_hash)""".stripMargin))

  /** Shingle sets of an ARBITRARY (doc_id, text, ...) relation — the
    * signature path shared by the streaming ingest sink (whose batches are
    * not a Ctx table) and any batch caller. Same tokenizer/shingler as
    * [[shingleArr]]; docs under 3 tokens have no shingles and yield no row. */
  private[graft] def shingleSetsOf(docsDf: DataFrame): DataFrame = {
    // docsDf may come from a streaming batch, not a Ctx — register here too
    graft.functions.TextGrams.register(docsDf.sparkSession)
    docsDf.withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(shinglesOfToks)).as("shingle"))
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("shingles"))
  }

  /** The batch-vs-corpus probe core: one batch of documents deduplicated
    * against an existing corpus's band index — band-bucket equi-join for
    * candidates (never a corpus self-join), exact Jaccard verify on the
    * candidates only, one decision row per batch doc. `batchIds` is the
    * batch's (doc_id) universe (docs too short to shingle still get a
    * keep=true row), `batchArr`/`corpusArr` the two shingle-set relations,
    * `corpusBands` the corpus's banded index — in production a bucketed /
    * Versioned table maintained by the ingest sink, so an arriving batch
    * costs |batch| signatures + one bucket probe. Shared by the batch
    * [[dedupIncremental]] and the streaming
    * [[graft.streaming.Streams.dedupIngestSink]]. */
  private[graft] def dedupBatchAgainstCorpus(batchIds: DataFrame,
      batchArr: DataFrame, corpusBands: DataFrame,
      corpusArr: DataFrame): DataFrame = {
    val batchBands = bandRowsOf(batchArr).select(
      col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val cands = batchBands
      .join(corpusBands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    val jacc = dv(inter, nullifZero(union))
    val perDoc = cands
      .join(batchArr.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(corpusArr.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jacc.as("jaccard"))
      .groupBy("doc_a")
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= 0.5, 1).otherwise(0)).as("n_dups"),
        max(col("jaccard")).as("max_jaccard"),
        min(when(col("jaccard") >= 0.5, col("doc_b"))).as("dup_witness"))
    batchIds.select(col("doc_id"))
      .join(perDoc.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("max_jaccard"), col("dup_witness"),
        (coalesce(col("n_dups"), lit(0L)) === 0).as("keep"))
  }

  /** LSH recall evaluation — does the 4-band/16-signature MinHash scheme
    * actually find the near-duplicates it should? On a deterministic
    * 1/4 sample of documents (md5-prefix draw, the honest way to ground-
    * truth at scale: exact all-pairs Jaccard is quadratic, so you audit a
    * sample, never the corpus), compute every true pair (exact Jaccard
    * >= 0.5 via the shingle-postings join) and check which of them the
    * banded LSH candidate stage surfaced. One summary row: true pairs,
    * detected pairs, recall. The eval harness every dedup deployment runs
    * before trusting its bands. */
  def minhashRecall(ctx: Ctx): DataFrame = {
    val sampled = docs(ctx).select(col("doc_id"))
      .filter(substring(
        md5(concat(lit("rsample|"), col("doc_id").cast("string"))), 1, 1) < "4")
    val sh = shingleArr(ctx).join(sampled, Seq("doc_id"))
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(sh.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(dv(col("inter"),
        col("sz_a") + col("sz_b") - col("inter")) >= 0.5)
      .select("doc_a", "doc_b")
    val detected = dedupMinhashLsh(ctx)
      .filter(col("is_near_duplicate"))
      .join(sampled.select(col("doc_id").as("doc_a")), Seq("doc_a"))
      .join(sampled.select(col("doc_id").as("doc_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("det"))
    truth.join(detected, Seq("doc_a", "doc_b"), "left")
      .agg(
        count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("det"), lit(0L))).as("n_detected"),
        dv(sum(coalesce(col("det"), lit(0L))),
          nullifZero(count(lit(1)))).as("recall"))
  }

  /** Per-doc 16-bit simhash signature (md5-derived per-token bit votes),
    * memoized and persisted per (session, sfDir): the signature relation is
    * tiny (one short string per doc) but costs a full token explode + 16-vote
    * aggregate to build, and the near-dup chunk SELF-join would otherwise
    * evaluate that chain once per join side. */
  /** Hex digit -> bit b (0..3) as an IN-list over the digit character: the
    * one form of "extract bit b of a hex digit" that is written IDENTICALLY
    * in Spark and the DuckDB oracle (no conv/from_hex dialect divergence).
    * Digits whose value has bit b set. */
  private[graft] val hexBitSets: Array[Seq[String]] = Array(
    Seq("1", "3", "5", "7", "9", "b", "d", "f"), // bit 0
    Seq("2", "3", "6", "7", "a", "b", "e", "f"), // bit 1
    Seq("4", "5", "6", "7", "c", "d", "e", "f"), // bit 2
    Seq("8", "9", "a", "b", "c", "d", "e", "f")) // bit 3

  private def simhashes(ctx: Ctx): DataFrame =
    graft.Store.memo(ctx, "doc_simhashes") {
      // 64-bit signature: bit j votes +/-1 by bit (j%4) of md5 hex digit
      // (j/4). A 16-bit signature was a SCALE BUG: chunk buckets over a
      // 6/5/5-bit domain (64/32/32 values) hold N/64 docs each, so the
      // near-dup candidate join grew quadratically — fine at 500 docs,
      // billions of pairs at 500k. 22/21/21-bit chunk domains make a
      // bucket collision mean something again at any corpus size.
      //
      // Compute shape (the r6→r7 reconciliation — same bits, ~5x less
      // expression work): (1) natural-language tokens repeat, so reduce to
      // per-(doc, token-hash) COUNTS first (narrow map-side-combining
      // shuffle) and weight each vote by cnt — ±1 per occurrence summed
      // == ±cnt per distinct, integer addition is order-free; (2) decode
      // each hex digit ONCE into an int column and evaluate the 64 votes
      // as integer bit-masks, instead of 64 substring+IN-list string
      // comparisons per row (that form remains in the DuckDB oracle twin,
      // where it is the dialect-portable spelling — same bits either way).
      // the documents parquet is a single row group, so WITHOUT an explicit
      // exchange the whole explode -> md5 -> partial-aggregate chain runs in
      // ONE task (the map side of the first shuffle); spreading the RAW docs
      // (a tiny relation) first parallelizes the heavy per-token hashing.
      // This is simhash-local: the shared shingle consumers keep docsTok's
      // fuse-into-consumer contract (see the docsTok note).
      val spread = docs(ctx)
        .repartition(ctx.spark.sparkContext.defaultParallelism)
        .withColumn("toks", expr(toksExpr))
      val tokCnt = spread
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), md5(col("tok")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      val digits = tokCnt.select(
        col("doc_id") +: col("cnt") +:
          (0 until 16).map(i => conv(substring(col("h"), i + 1, 1), 16, 10)
            .cast("int").as(s"d$i")): _*)
      val voteCols = (0 until 64).map { j =>
        sum(when(col(s"d${j / 4}").bitwiseAND(lit(1 << (j % 4))) > 0, col("cnt"))
          .otherwise(-col("cnt"))).as(s"v$j")
      }
      val votes = digits.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      val sig = graft.Store.track(ctx.spark, votes.select(
        col("doc_id"),
        concat((0 until 64).map(j =>
          when(col(s"v$j") >= 0, "1").otherwise("0")): _*).as("simhash"))
        .persist())
      // EAGER fill: consumers (the bucket join, the 3-chunk near-dup join)
      // embed this relation on BOTH join sides — left lazy, each branch
      // would carry (and codegen-compile) the whole 64-aggregate subtree
      // again. Filling here compiles it once; consumers plan against the
      // finished in-memory columnar relation. (Measured: 6.4 s -> ~1.5 s
      // cold at sf0.1 — the cost was duplicated Janino compilation, not
      // data.)
      sig.count()
      sig
    }

  /** SimHash (64-bit, md5-derived per-token bit votes): equal-signature
    * buckets are near-dup groups; one groupBy per token + one per doc. */
  def dedupSimhash(ctx: Ctx): DataFrame = {
    val simhash = simhashes(ctx)
    simhash
      .join(simhash.groupBy("simhash").agg(
        count(lit(1)).as("bucket_size"), min("doc_id").as("bucket_keep_doc_id")),
        Seq("simhash"))
      .select(col("doc_id"), col("simhash"), col("bucket_size"),
        col("bucket_keep_doc_id"))
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxDist`,
    * found without an all-pairs scan.
    *
    * For the contract distance (≤ 2) the candidate step runs at the
    * DISTINCT-SIGNATURE level via MEET-IN-THE-MIDDLE bit-flip expansion:
    * each distinct signature emits itself plus its 64 one-bit flips; two
    * signatures at distance 2 collide on a shared midpoint variant (flip
    * one differing bit on each side), distance 1 collides flip-vs-exact —
    * and, decisively, EVERY collision is a true ≤2 pair (|α|,|β| ≤ 1 ⇒
    * d(X,Y) ≤ 2), so there is no far-candidate verification mass at all.
    * This replaced the r7 chunk-pigeonhole join whose (chunk_idx,
    * chunk_val) buckets went quadratic on template-concentrated corpora:
    * measured at synth SF100 (5M docs, PERF_NOTES_r8.md), 63 953
    * docs shared one 21-bit chunk and candidate mass was 38.4B pairs
    * (one reduce task burned 24 min before the leg was killed) vs a true
    * output floor of ~1M pairs. Flip expansion is 65 rows per DISTINCT
    * signature (4.57M at SF100), joined on the full variant key where a
    * bucket is the set of signatures inside a radius-1 Hamming ball —
    * sparse even when 22-bit subspaces are hot (signatures concentrate in
    * clusters of radius ~10, so radius-1 balls hold O(1) of them). Doc
    * pairs then expand from verified signature pairs only: identical-sig
    * groups pair within themselves (≤215 docs at SF100), cross-sig pairs
    * join each side's doc list.
    *
    * The path is chosen COST-BASED at declaration: one aggregation over
    * the persisted signature relation computes the chunk join's true
    * candidate mass Σ occ·(occ−1)/2, and the flip expansion (a fixed
    * 65-rows-per-distinct-signature cost — slower at small N) engages
    * only above `spark.graft.simhash.maxChunkPairs` (default 500M; synth
    * SF10 mass 386M → chunk join 24 s vs flip 56 s, SF100 mass 38.4B →
    * chunk join unbounded vs flip 135 s). Both paths are exact, so the
    * choice never changes the result. Other `maxDist` values always use
    * the chunk join (exact for ≤ 2 chunks' worth of error). Distance
    * comes from the native codegen'd [[graft.functions.BitHamming]]. */
  def dedupSimhashNear(ctx: Ctx, maxDist: Int = 2): DataFrame = {
    graft.functions.BitHamming.register(ctx.spark)
    val sim = simhashes(ctx)
    // Cost-based path choice (both paths are EXACT — same result set):
    // the chunk join's cost is the candidate-pair mass Σ occ·(occ−1)/2
    // over its (chunk_idx, chunk_val) buckets (measured ~25M pairs/s,
    // skew-bound above ~half a billion), while the flip path pays a
    // fixed 65-variants-per-distinct-signature expansion that only wins
    // once the mass explodes (synth SF10: mass 386M → chunk join 24 s vs
    // flip 56 s; SF100: mass 38.4B → chunk join unbounded vs flip 135 s).
    // One aggregation over the persisted signature relation decides —
    // the same bounded planning-cost pattern as RangeJoinRule's width
    // derivation. Override with spark.graft.simhash.maxChunkPairs.
    val chunks = sim.select(col("doc_id"), col("simhash"), expr(
      """stack(3,
        |  0, substring(simhash, 1, 22),
        |  1, substring(simhash, 23, 21),
        |  2, substring(simhash, 44, 21)) AS (chunk_idx, chunk_val)""".stripMargin))
    def chunkJoinPath: DataFrame = {
      val cands = chunks
        .select(col("chunk_idx"), col("chunk_val"),
          col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
        .join(chunks.select(col("chunk_idx"), col("chunk_val"),
          col("doc_id").as("doc_b"), col("simhash").as("sim_b")),
          Seq("chunk_idx", "chunk_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "sim_a", "doc_b", "sim_b").distinct()
      cands
        .withColumn("hamming", expr("bit_hamming(sim_a, sim_b)"))
        .filter(col("hamming") <= maxDist)
        .select(col("doc_a"), col("doc_b"), col("sim_a").as("simhash_a"),
          col("sim_b").as("simhash_b"), col("hamming"))
    }
    val maxChunkPairs = ctx.spark.conf
      .get("spark.graft.simhash.maxChunkPairs", "500000000").toLong
    // coalesce: sum over zero groups is NULL (empty corpus) — default 0.
    lazy val mass = chunks.groupBy("chunk_idx", "chunk_val")
      .agg(count(lit(1)).as("o"))
      .agg(coalesce(sum(expr("o * (o - 1) div 2")), lit(0L))).head().getLong(0)
    if (maxDist == 2 && mass > maxChunkPairs) {
      // ---- signature-level meet-in-the-middle (exact for d <= 2) ----
      // Signatures travel as TWO 32-bit longs, not 64-char strings: the
      // variant self-join is the big shuffle (65 rows per distinct sig)
      // and the long encoding is ~5x narrower per row — at SF100 the
      // string form spilled ~90 GB and filled the scratch disk.
      val sigs = sim.select("simhash").distinct().select(
        expr("cast(conv(substring(simhash, 1, 32), 2, 10) as bigint)").as("hi"),
        expr("cast(conv(substring(simhash, 33, 32), 2, 10) as bigint)").as("lo"))
      // j = 0 keeps the signature itself; j in 1..32 flips a hi bit,
      // 33..64 a lo bit
      val variants = sigs
        .select(col("hi"), col("lo"), explode(expr("sequence(0, 64)")).as("j"))
        .select(
          when(col("j").between(1, 32),
            expr("hi ^ shiftleft(1L, 32 - j)")).otherwise(col("hi")).as("vhi"),
          when(col("j") >= 33,
            expr("lo ^ shiftleft(1L, 64 - j)")).otherwise(col("lo")).as("vlo"),
          col("hi"), col("lo"))
      // Self-join kept over a groupBy-bucket formulation after measuring:
      // at SF100 (PERF_NOTES_r8.md) it reads 43.2-44.5 s (join) vs
      // 41.0-47.4 s (radius-1-ball buckets + bounded double explode),
      // identical pair sets — Spark reuses the variant exchange across
      // the self-join sides, so the "second shuffle" the bucket form
      // saves does not exist in the executed plan.
      val colliding = variants
        .select(col("vhi"), col("vlo"), col("hi").as("hi_a"), col("lo").as("lo_a"))
        .join(variants
          .select(col("vhi"), col("vlo"), col("hi").as("hi_b"), col("lo").as("lo_b")),
          Seq("vhi", "vlo"))
        .filter(struct(col("hi_a"), col("lo_a")) < struct(col("hi_b"), col("lo_b")))
        .select("hi_a", "lo_a", "hi_b", "lo_b").distinct()
      def sigStr(hi: String, lo: String) =
        concat(lpad(bin(col(hi)), 32, "0"), lpad(bin(col(lo)), 32, "0"))
      // exact Hamming on the long encoding (== bit_hamming over the bin
      // strings, since those ARE the 64 bits); collisions are all <= 2,
      // the filter is kept as the documented invariant
      val sigPairs = colliding
        .withColumn("hamming",
          (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
            .cast("int"))
        .filter(col("hamming") <= maxDist)
      // doc expansion: cross-sig pairs from each side's doc list. The
      // joins key on the (hi, lo) long pairs — 16 bytes of key through
      // the expansion shuffles instead of a 64-char signature string;
      // the output strings are rebuilt in the final projection, which
      // runs in the same stage as the last join (no shuffle carries them)
      val simL = sim.select(col("doc_id"),
        expr("cast(conv(substring(simhash, 1, 32), 2, 10) as bigint)").as("hi"),
        expr("cast(conv(substring(simhash, 33, 32), 2, 10) as bigint)").as("lo"))
      val cross = sigPairs
        .join(simL.select(col("doc_id").as("da"),
          col("hi").as("hi_a"), col("lo").as("lo_a")), Seq("hi_a", "lo_a"))
        .join(simL.select(col("doc_id").as("db"),
          col("hi").as("hi_b"), col("lo").as("lo_b")), Seq("hi_b", "lo_b"))
        .select(
          least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          when(col("da") < col("db"), sigStr("hi_a", "lo_a"))
            .otherwise(sigStr("hi_b", "lo_b")).as("simhash_a"),
          when(col("da") < col("db"), sigStr("hi_b", "lo_b"))
            .otherwise(sigStr("hi_a", "lo_a")).as("simhash_b"),
          col("hamming"))
      // … plus distance-0 pairs within each identical-signature group
      // (same long-keyed join + rebuild-at-output as the cross expansion)
      val d0 = simL.select(col("doc_id").as("doc_a"), col("hi"), col("lo"))
        .join(simL.select(col("doc_id").as("doc_b"), col("hi"), col("lo")),
          Seq("hi", "lo"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), sigStr("hi", "lo").as("simhash_a"),
          sigStr("hi", "lo").as("simhash_b"), lit(0).as("hamming"))
      cross.unionByName(d0)
    } else chunkJoinPath // small mass, or a maxDist the flip path doesn't cover
  }

  /** Output-mass-independent statistics over the simhash near-dup pair
    * set: per Hamming distance, how many verified pairs and how many
    * distinct documents are involved.
    *
    * Exists because the full [[dedupSimhashNear]] materializes every pair
    * (~96M rows at synth SF100) — right for dedup itself, but any consumer
    * that only needs the dedup PRESSURE (how much near-duplication is in
    * the corpus, at which distances) pays an output-bound action whose
    * cost is the pair mass, not the plan. Here the aggregation collapses
    * to ≤ maxDist+1 rows inside the same job, and Catalyst's column
    * pruning drops the rebuilt 64-char signature strings from the plan
    * entirely — only (hamming, doc_id) longs reach the final shuffle.
    * Pairs are counted via the doc explosion (each pair contributes its
    * two endpoints, sum(cnt)/2 is exact: the sum is always even).
    *
    * Deliberately TWO-PHASE instead of `count + countDistinct` in one
    * aggregate: a mixed distinct/non-distinct aggregate plans an Expand
    * (2 projections per input row — ~384M rows at SF100), while
    * groupBy(hamming, doc_id) map-side combines the exploded rows down to
    * the distinct (distance, doc) pairs before the only wide shuffle. */
  def dedupSimhashStats(ctx: Ctx, maxDist: Int = 2): DataFrame =
    dedupSimhashNear(ctx, maxDist)
      .select(col("hamming"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("hamming", "doc_id").agg(count(lit(1)).as("cnt"))
      .groupBy("hamming")
      .agg(expr("sum(cnt) div 2").as("n_pairs"),
        count(lit(1)).as("n_docs"))

  /** N-gram Jaccard near-dup with LSH blocking WITHIN the source key:
    * 8 single-hash MinHash bands (r=1) generate candidates per
    * (source, band, hash) bucket — never the full quadratic blow-up inside a
    * dominant source — then exact Jaccard >= 0.1 verifies each candidate.
    * Two docs sharing a band min-hash share the minimizing shingle, so every
    * candidate has intersection >= 1 and the verify join is inner. */
  def dedupNgramJaccard(ctx: Ctx): DataFrame = {
    // same per-doc shingle-ARRAY shape as dedupMinhashLsh: the explode runs
    // once (shared memo), signatures are narrow array_min maps, the exact
    // verify is array_intersect on doc-keyed joins
    val docArr = shingleArr(ctx)
      .join(docs(ctx).select("doc_id", "source"), Seq("doc_id"))
    // all 8 band mins in ONE native codegen'd pass over the shingle set
    // (band_min_md5s(shingles, 8)(i) == array_min(transform(shingles,
    // x -> md5(concat('i|', x)))), Md5MinsSpec) — the composed form ran 8
    // interpreted transform lambdas per doc; posexplode replaces the stack
    // with identical (band_idx, band_hash) rows
    val bandRows = docArr.select(col("doc_id"), col("source"),
      posexplode(expr("band_min_md5s(shingles, 8)"))
        .as(Seq("band_idx", "band_hash")))
    val cands = bandRows
      .select(col("source"), col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(bandRows.select(col("source"), col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("source", "band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("source", "doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    cands
      .join(docArr.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(docArr.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(
        col("source"), col("doc_a"), col("doc_b"),
        inter.as("intersection"),
        union.as("union_size"),
        dv(inter, nullifZero(union)).as("jaccard"))
      .filter(col("jaccard") >= 0.1)
  }

  /** End-to-end training-corpus selection — the composition every large
    * pipeline runs before tokenization: keep a document iff
    *   (a) quality_score >= 0.5 and >= 10 tokens,
    *   (b) the n-gram language id agrees with the labeled language,
    *   (c) it is the canonical keeper of its exact-duplicate group, and
    *   (d) it is not a dropped member of a near-duplicate cluster.
    * All four signals are the library's own operators; the drop lists are
    * anti-joins (never a collected blacklist), so the plan stays one
    * distributed pipeline at any corpus size. */
  def corpusSelection(ctx: Ctx): DataFrame = {
    val q = quality(ctx).select("doc_id", "n_tokens", "quality_score")
    val lid = languageId(ctx).select("doc_id", "labeled_lang", "predicted_lang")
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val exactDrop = docs(ctx).select(col("doc_id"), md5(norm).as("fingerprint"))
      .join(dedupExact(ctx).select("fingerprint", "keep_doc_id"), Seq("fingerprint"))
      .filter(col("doc_id") =!= col("keep_doc_id"))
      .select("doc_id")
    val nearDrop = dedupClusters(ctx)
      .filter(!col("is_cluster_keeper"))
      .select("doc_id")
    docs(ctx).select("doc_id", "source", "lang", "n_chars")
      .join(q, Seq("doc_id"))
      .join(lid, Seq("doc_id"))
      .join(exactDrop, Seq("doc_id"), "left_anti")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= 0.5 && col("n_tokens") >= 10
        && col("predicted_lang") === col("labeled_lang"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("n_tokens"), col("quality_score"), col("predicted_lang"))
  }

  /** Deterministic train/val/test assignment: the md5 of a salted doc key
    * is uniform over hex strings, so fixed two-hex-char prefix ranges give
    * an exact engine-independent 75 / 12.5 / 12.5 split ('00'-'bf' /
    * 'c0'-'df' / 'e0'-'ff' of 256 buckets) — no RNG, stable under re-runs,
    * and a document's split never depends on any other document. Map-side
    * only: zero shuffles at any corpus size. */
  def corpusSplit(ctx: Ctx): DataFrame = {
    val h2 = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2)
    docs(ctx).select(
      col("doc_id"), col("source"), col("lang"), col("n_chars"),
      h2.as("split_hash"),
      when(h2 <= "bf", "train").when(h2 <= "df", "val").otherwise("test")
        .as("split"))
  }

  /** Domain mixing: cap each source's contribution, members chosen in
    * deterministic salted-md5 order (a keyed shuffle, uniform within the
    * source) — the per-domain down-sampling step of corpus assembly.
    * Selection goes through the two-phase [[graft.operators.TopK]] rewrite
    * (salted local top-k, then a bounded survivors window), so a corpus
    * with one dominant source never funnels that source through a single
    * task; per-source totals come from a plain aggregate + join, not a
    * whole-source window. */
  def corpusMix(ctx: Ctx, cap: Int = 10): DataFrame = {
    val base = docs(ctx)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val sizes = base.groupBy("source").agg(count(lit(1)).as("n_source_docs"))
    graft.operators.TopK.topKPerKey(base,
        keys = Seq(col("source")),
        order = Seq(md5(concat(lit("mix|"), col("doc_id").cast("string"))),
          col("doc_id")),
        saltOn = Seq(col("doc_id")),
        k = cap, rankCol = "sample_rank")
      .join(sizes, Seq("source"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("sample_rank"), col("n_source_docs"))
  }

  /** Sequence packing, concat-then-chunk: documents are laid out in
    * deterministic doc_id order and cut into fixed token-budget context
    * windows; each document reports the pack (chunk) its first token lands
    * in and its offset inside that pack — the layout step before writing
    * training shards. The exact global running token offset comes from the
    * two-phase [[graft.operators.Scale.globalOrder]] cumsum, so there is no
    * single-partition window over the corpus at any scale. */
  def corpusPack(ctx: Ctx, budget: Int = 1024): DataFrame = {
    val toks = docsTok(ctx).select(
      col("doc_id"), col("source"), size(col("toks")).cast("long").as("n_tokens"))
    graft.operators.Scale.globalOrder(toks,
        order = Seq(col("doc_id")),
        cums = Seq("n_tokens" -> "cum_tokens"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        (col("cum_tokens") - col("n_tokens")).as("start_offset"),
        expr(s"(cum_tokens - n_tokens) div $budget").as("pack_idx"),
        ((col("cum_tokens") - col("n_tokens")) % budget).as("offset_in_pack"))
  }

  /** Shard manifest — the verification artifact of the training-shard
    * writer: every document is assigned to one of 16 shards by a
    * deterministic salted-md5 draw (the "global shuffle" of corpus
    * assembly, done as a hash so it needs NO global sort), and the
    * manifest reports per-shard document/token/char totals plus a balance
    * ratio (shard docs ÷ expected docs-per-shard). At cluster scale the
    * writer is `df.repartition(n, shard).write` with this one groupBy as
    * the audit; a skewed balance_ratio here is the early warning that a
    * shard will straggle in training. One partial-aggregatable shuffle on
    * a 16-value key; the scalar total joins back as a broadcast. */
  def corpusShardManifest(ctx: Ctx): DataFrame = {
    val shardHex =
      substring(md5(concat(lit("shard|"), col("doc_id").cast("string"))), 1, 1)
    val perDoc = docsTok(ctx).select(
      col("doc_id"), col("n_chars"),
      size(col("toks")).cast("long").as("n_toks"), shardHex.as("shard_hex"))
    val manifest = perDoc.groupBy("shard_hex").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"),
      sum("n_chars").as("n_chars_total"),
      min("doc_id").as("min_doc_id"),
      max("doc_id").as("max_doc_id"))
    val total = docs(ctx).agg(count(lit(1)).as("__total_docs"))
    manifest.crossJoin(total)
      .select(
        (expr("instr('0123456789abcdef', shard_hex)") - 1)
          .cast("int").as("shard_id"),
        col("shard_hex"), col("n_docs"), col("n_tokens"),
        col("n_chars_total"), col("min_doc_id"), col("max_doc_id"),
        dv(col("n_docs") * 16, nullifZero(col("__total_docs")))
          .as("balance_ratio"))
  }

  /** Per-source language-mix profile: majority language and Gini impurity —
    * the mixture signal corpus curation uses to spot mislabeled or
    * aggregated feeds. Impurity is DELIBERATELY Gini (1 - Σp²) rather than
    * entropy: it is a ratio of exact integers (n² - Σc²) / n², so both
    * engines compute the identical double, whereas log() is a
    * transcendental whose last ulp is library-dependent. Majority pick is
    * max(struct(count, lang)) — one aggregate, deterministic tie-break, no
    * window. Two bounded groupBys, both partial-aggregatable. */
  def sourceLangDiversity(ctx: Ctx): DataFrame = {
    val cnt = docs(ctx).groupBy("source", "lang").agg(count(lit(1)).as("c"))
    cnt.groupBy("source")
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("__m"),
        sum(col("c") * col("c")).as("__ss"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("__m.lang").as("majority_lang"),
        dv(col("__m.c"), col("n_docs")).as("majority_share"),
        dv(col("n_docs") * col("n_docs") - col("__ss"),
          col("n_docs") * col("n_docs")).as("gini_impurity"))
  }

  /** Vocabulary construction: every distinct token with its corpus term
    * frequency, document frequency, and a STABLE dense integer id — the
    * token-table pass of a tokenizer-training / feature-hashing pipeline.
    * Ids are assigned by (tf desc, token) through the two-phase
    * [[graft.operators.Scale.globalOrder]] row number, so the id assignment
    * is deterministic AND never funnels the vocabulary through one task
    * (web-scale vocabularies run to billions of distinct tokens before
    * frequency pruning). */
  def corpusVocab(ctx: Ctx): DataFrame = {
    val tf = docsTok(ctx)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    graft.operators.Scale.globalOrder(tf,
        order = Seq(col("tf").desc, col("tok")), rn = Some("token_id"))
      .select(col("token_id"), col("tok"), col("tf"), col("df"))
  }

  /** Exact pairwise SOURCE-level content overlap: Jaccard between each
    * source pair's distinct shingle inventory — the corpus-curation view of
    * "which feeds duplicate each other" (mirror detection, crawl overlap).
    * Computed via a shingle-postings equi-join (each shingle meets only the
    * sources containing it), never a source × source cross join; both
    * groupBys are partial-aggregatable. The exact form's cost grows with
    * shared-shingle density — at 100 TB the drop-in replacement is the
    * [[graft.functions.MinHashSketch]] aggregate (one fixed-size sketch per
    * source, estimate = matching-slot fraction; see MinHashSpec for the
    * accuracy band), which this query's exact output calibrates. */
  def sourceSimilarity(ctx: Ctx): DataFrame = {
    // r13 optimization: per-shingle source sets instead of distinct +
    // postings self-join. collect_set dedupes (source, shingle) inside the
    // aggregate (map-side partial) — the standalone distinct exchange
    // disappears — and the sorted set emits each a<b source pair directly,
    // so the postings relation is never joined against itself (guide
    // §2.3/§2.4). A shingle's set is bounded by the SOURCE domain (feeds,
    // not documents), so the per-group state and pair fan-out are both
    // domain-bounded at any corpus size — strictly better than the
    // self-join, whose hot-shingle fan-out was the same pairs through join
    // machinery. Set sizes come from one explode of the same aggregate.
    val postings = docs(ctx).select(col("doc_id"), col("source"))
      .join(shingleArr(ctx), Seq("doc_id"))
      .select(col("source"), explode(col("shingles")).as("shingle"))
    val byShingle = postings.groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
    val sz = byShingle.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("set_size"))
    graft.functions.OrderedPairs.register(ctx.spark)
    val inter = byShingle
      // native codegen'd i<j pair expansion (== flatten(transform(ss,
      // (a, i) -> transform(slice(ss, i + 2, size(ss)), b -> struct(a, b)))),
      // OrderedPairsSpec) — the nested lambda was interpreted per element
      .select(explode(expr("ordered_pairs(ss)")).as("p"))
      .select(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(sz.select(col("source").as("source_a"), col("set_size").as("size_a")),
        Seq("source_a"))
      .join(sz.select(col("source").as("source_b"), col("set_size").as("size_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("intersection"),
        col("size_a"), col("size_b"),
        dv(col("intersection"),
          col("size_a") + col("size_b") - col("intersection")).as("jaccard"))
  }

  /** Benchmark decontamination: for every training document, report its
    * shingle overlap with the held-out test split — the leak check every
    * training corpus runs against its eval sets. Join shape is the scale
    * path: (doc, shingle) pairs tagged with their [[corpusSplit]] split,
    * shingles capped at a document frequency of `maxShingleDf` (stopword
    * n-grams are non-discriminative and would otherwise create hot keys —
    * the cap bounds every shingle's join fan-out at df², the standard
    * decontamination practice), then one shuffle join on shingle and two
    * partial-aggregatable groupBys. Only overlapping training docs are
    * emitted; `is_contaminated` flags >= `minShared` shared shingles with
    * a single test doc. */
  def decontaminate(ctx: Ctx, maxShingleDf: Int = 50, minShared: Int = 3): DataFrame = {
    val tagged = shingleArr(ctx)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(corpusSplit(ctx).select(col("doc_id"), col("split")), Seq("doc_id"))
    // One pass over the tagged pairs: group the postings per shingle with
    // the split routing done INSIDE the aggregate (FILTER-clause
    // collect_lists — codegen-evaluated predicates, replacing two
    // interpreted `filter(docs, d -> ...)` HOF passes over every posting
    // array), drop hot shingles by the same total-df cap (count(1) ==
    // size of the old combined list), then emit train×test pairs by
    // double explode. Equivalent to the rare-filter + train⋈test
    // self-join, but `tagged` is evaluated once instead of four times and
    // the pair generation is shuffle-free; the shuffled state is now two
    // bare doc_id lists (the split tag no longer rides every element).
    // The df cap bounds every posting list at `maxShingleDf` entries, so
    // the collect_lists stay O(cap) per group at any corpus size.
    val postings = tagged
      .groupBy("shingle")
      .agg(
        count(lit(1)).as("df"),
        expr("collect_list(doc_id) FILTER (WHERE split = 'test')").as("tests"),
        expr("collect_list(doc_id) FILTER (WHERE split <> 'test')").as("trains"))
      .filter(col("df") <= maxShingleDf)
    postings
      .select(explode(col("tests")).as("test_doc"), col("trains"))
      .select(col("test_doc"), explode(col("trains")).as("train_doc"))
      .select(col("train_doc"), col("test_doc"))
      .groupBy("train_doc", "test_doc")
      .agg(count(lit(1)).as("shared_shingles"))
      .groupBy(col("train_doc").as("doc_id"))
      .agg(
        countDistinct(col("test_doc")).as("n_test_docs_overlapping"),
        max("shared_shingles").as("max_shared_shingles"),
        sum("shared_shingles").as("total_shared_shingles"),
        (max("shared_shingles") >= minShared).as("is_contaminated"))
  }

  /** Near-duplicate CLUSTERING: connected components over the MinHash
    * near-dup pairs (jaccard >= 0.5), emitting one canonical keeper per
    * cluster — the step that turns pairwise dedup into an actionable
    * "keep/drop" list for a training corpus.
    *
    * Spark-first shape: iterative min-label propagation to the fixpoint
    * (label(doc) := min(label(doc), min label among neighbours); converges
    * in <= diameter rounds; each round is one shuffle join + aggregate).
    * The fixpoint is the exact per-component minimum doc_id — deterministic
    * regardless of iteration strategy — so the DuckDB twin computes the same
    * result via a recursive transitive closure. At 100 TB the same loop runs
    * with the alternating large-star/small-star optimization (O(log d)
    * rounds); the per-round plan here is already the scalable one
    * (edge-partitioned join, no driver-side graph).
    */
  def dedupClusters(ctx: Ctx): DataFrame = graft.Store.memo(ctx, "dedup_cluster_labels") {
    val pairs = dedupMinhashLsh(ctx)
      .filter(col("is_near_duplicate"))
      .select("doc_a", "doc_b")
    // min-label propagation with pointer jumping + per-round lineage cuts:
    // graft.operators.Components. The fixpoint (per-component min doc_id)
    // is what the recursive-CTE oracle pins.
    val labels = graft.operators.Components.labels(pairs, "doc_a", "doc_b")
      .withColumnRenamed("node_id", "doc_id")
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc_id"), col("label").as("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_cluster_keeper"))
  }

  /** Repetition-based quality signals (the Gopher/FineWeb "repetitive
    * document" filters): unique-token ratio, the most frequent token's and
    * bigram's share of the document, and the fraction of trigram occurrences
    * that are in-document repeats. Each signal is a per-(doc, n-gram)
    * count-then-per-doc rollup — two partial-aggregatable groupBys per
    * n-gram order, all keyed on doc_id, no joins across documents. */
  def repetition(ctx: Ctx): DataFrame = {
    val bigramsOfToks = "ngrams(toks, 2, 1)"
    def stats(gram: Column, n: String, extra: Seq[Column]) =
      docsTok(ctx).select(col("doc_id"), explode(gram).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id").agg(sum("tf").as(n), extra: _*)
    val tok = stats(col("toks"), "n_tokens", Seq(
      count(lit(1)).as("n_unique_tokens"), max("tf").as("top_tok_tf")))
    val bi = stats(expr(bigramsOfToks), "n_bigrams", Seq(max("tf").as("top_bigram_tf")))
    val tri = stats(expr(shinglesOfToks), "n_trigrams", Seq(
      sum(when(col("tf") > 1, col("tf")).otherwise(lit(0L))).as("dup_trigram_occ")))
    tok.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_unique_tokens"),
        dv(col("n_unique_tokens"), nullifZero(col("n_tokens"))).as("unique_token_ratio"),
        dv(col("top_tok_tf"), nullifZero(col("n_tokens"))).as("top_token_share"),
        dv(col("top_bigram_tf"), nullifZero(col("n_bigrams"))).as("top_bigram_share"),
        dv(coalesce(col("dup_trigram_occ"), lit(0L)),
          nullifZero(col("n_trigrams"))).as("dup_trigram_frac"),
        (dv(col("top_bigram_tf"), nullifZero(col("n_bigrams"))) > 0.1 ||
          dv(coalesce(col("dup_trigram_occ"), lit(0L)),
            nullifZero(col("n_trigrams"))) > 0.5).as("is_repetitive"))
  }

  /** Sub-document (chunk-level) exact dedup: non-overlapping `chunkTokens`-
    * token windows, md5-keyed; a chunk occurrence is a duplicate when an
    * earlier document (by doc_id) contains the same chunk — the fixed-window
    * stand-in for paragraph dedup on a corpus with no paragraph breaks.
    * Scale shape: explode + distinct, one groupBy on the 32-hex chunk key
    * for first-owner, one shuffle join back, one per-doc rollup. */
  def dedupChunks(ctx: Ctx, chunkTokens: Int = 10): DataFrame = {
    // native stride-c window digests (bit-identical to the md5(array_join(
    // slice(...))) HOF spelling — TextGramsSpec; the oracle twin unchanged)
    val chunkArr = s"ngram_md5s(toks, $chunkTokens, $chunkTokens)"
    val occ = docsTok(ctx)
      .select(col("doc_id"), explode(expr(chunkArr)).as("chunk_hash"))
      .distinct()
    val firstOwner = occ.groupBy("chunk_hash")
      .agg(min("doc_id").as("first_doc"))
    occ.join(firstOwner, Seq("chunk_hash"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        dv(col("n_dup_chunks"), nullifZero(col("n_chunks"))).as("dup_chunk_frac"),
        (dv(col("n_dup_chunks"), nullifZero(col("n_chunks"))) >= 0.5)
          .as("is_mostly_duplicate"))
  }

  /** Exact duplicate-SPAN coverage — the substring-dedup shape of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022, arXiv:2107.06499), reduced to fixed windows: overlapping
    * `w`-token windows at stride 1, md5-keyed; a window is SHARED when at
    * least two distinct documents contain it; a document's duplicated-span
    * coverage is the size of the union of its shared windows' [pos, pos+w)
    * token intervals, merged per doc with one gaps-and-islands pass (an
    * island breaks where the next shared window starts more than `w`
    * tokens after the previous one — anything closer overlaps or abuts).
    * Unlike [[dedupChunks]] (non-overlapping chunks, boundary-sensitive),
    * stride-1 windows catch a shared span at ANY alignment.
    * Scale shape: one stride-1 explode (~1 window per token; at 100 TB the
    * 32-hex md5 key would shrink to xxhash64 — nothing else changes), one
    * groupBy on the window key (min != max beats a count-distinct:
    * constant aggregation state), one join back, then doc_id-keyed windows
    * whose partitions are bounded by document length, never corpus size. */
  def dedupSpans(ctx: Ctx, w: Int = 8): DataFrame = {
    // native stride-1 window digests (bit-identical to the md5(array_join(
    // slice(...))) HOF spelling — TextGramsSpec; the oracle twin unchanged)
    val winArr = s"ngram_md5s(toks, $w, 1)"
    val occ = docsTok(ctx).select(
      col("doc_id"),
      posexplode(expr(winArr)).as(Seq("pos", "win_hash")))
    val shared = occ.groupBy("win_hash")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx"))
      .select("win_hash")
    // (doc_id, pos) is unique out of posexplode and win_hash is unique in
    // shared, so the join cannot duplicate positions — no distinct needed
    val hit = occ.join(shared, Seq("win_hash"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val isl = hit
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wd) > w, 1).otherwise(0))
      .withColumn("island",
        sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cov = isl.groupBy(col("doc_id"), col("island"))
      .agg((max("pos") - min("pos") + w).cast("long").as("span_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum("span_len").as("dup_span_tokens"))
    docsTok(ctx).select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_span_tokens"), lit(0L)).as("dup_span_tokens"),
        dv(coalesce(col("dup_span_tokens"), lit(0L)), nullifZero(col("n_tokens")))
          .as("dup_span_frac"),
        (dv(coalesce(col("dup_span_tokens"), lit(0L)), nullifZero(col("n_tokens"))) >= 0.5)
          .as("is_mostly_duplicated"))
  }

  /** Deterministic stratified sampling: per-language strata, keep rate 1/4
    * decided by a 4-hex md5 prefix of the doc id (same salt-prefix device as
    * [[corpusSplit]] — membership is a pure function of doc_id, so retries,
    * re-runs and both engines agree). Emits the per-stratum audit: totals,
    * sampled counts, achieved rate vs the 0.25 target. Pure map + one
    * partial-aggregatable groupBy on a low-cardinality key. */
  def sampleStratified(ctx: Ctx): DataFrame = {
    val tag = substring(md5(concat(lit("sample|"), col("doc_id").cast("string"))), 1, 4)
    docs(ctx).select(col("doc_id"), col("lang"), tag.as("tag"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("tag") < "4000", 1L).otherwise(0L)).as("n_sampled"),
        min(when(col("tag") < "4000", col("doc_id"))).as("min_sampled_doc"),
        max(when(col("tag") < "4000", col("doc_id"))).as("max_sampled_doc"))
      .select(col("lang"), col("n_docs"), col("n_sampled"),
        dv(col("n_sampled"), nullifZero(col("n_docs"))).as("achieved_rate"),
        lit(0.25).as("target_rate"),
        col("min_sampled_doc"), col("max_sampled_doc"))
  }

  /** Length-proportional weighted sampling: each document is kept with
    * probability n_chars / 2000 (capped at 1) — the token-budget sampling
    * shape where longer documents are proportionally likelier to survive,
    * so the SAMPLE's token mass tracks the corpus's. Acceptance is the
    * deterministic md5-uniform draw compared against the weight ENTIRELY in
    * integer arithmetic (draw * 2000 < n_chars * 65536) — no IEEE division
    * anywhere near the decision, so re-runs, retried tasks and the oracle
    * agree exactly. Map-side only per doc + one bounded groupBy on source. */
  def sampleWeighted(ctx: Ctx, fullChars: Int = 2000): DataFrame = {
    val draw = conv(
      substring(md5(concat(lit("wsample|"), col("doc_id").cast("string"))), 1, 4),
      16, 10).cast("long")
    val kept = (draw * fullChars) < (col("n_chars") * 65536L)
    docs(ctx)
      .select(col("doc_id"), col("source"), col("n_chars"), kept.as("kept"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"),
        sum(least(col("n_chars"), lit(fullChars.toLong))).as("weight_mass"),
        min(when(col("kept"), col("doc_id"))).as("min_sampled_doc"),
        max(when(col("kept"), col("doc_id"))).as("max_sampled_doc"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        dv(col("weight_mass"), col("n_docs") * fullChars).as("target_rate"),
        dv(col("n_sampled"), nullifZero(col("n_docs"))).as("achieved_rate"),
        col("min_sampled_doc"), col("max_sampled_doc"))
  }

  /** Corpus length-distribution report: per-source document/token counts and
    * exact token-count percentiles (p25/p50/p75/p95, linear interpolation) —
    * the length profile a pipeline consults before choosing context-window
    * and truncation budgets. One partial-aggregatable groupBy on the bounded
    * source key; percentile_cont is per-group sort of the group's own
    * values, never a global order. */
  def lengthStats(ctx: Ctx): DataFrame =
    docsTok(ctx)
      .select(col("source"), size(col("toks")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_tokens"),
        min("n_toks").as("min_tokens"),
        max("n_toks").as("max_tokens"),
        avgE(col("n_toks")).as("avg_tokens"),
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY n_toks)").as("p25_tokens"),
        expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY n_toks)").as("p50_tokens"),
        expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY n_toks)").as("p75_tokens"),
        expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY n_toks)").as("p95_tokens"))

  /** Per-source characteristic terms, tf/df-scored: a token's score within a
    * source is its term frequency over the number of sources containing it
    * (the rational-arithmetic stand-in for tf-idf — exact in both engines,
    * no transcendental log to diverge on). Top-5 per source through the
    * skew-safe two-phase [[graft.operators.TopK.topKPerKey]], so one giant
    * source cannot funnel its whole vocabulary through a single task. */
  def sourceTopTerms(ctx: Ctx, k: Int = 5): DataFrame = {
    val tf = docsTok(ctx)
      .select(col("source"), explode(col("toks")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
    val sourceDf = tf.groupBy("tok").agg(count(lit(1)).as("source_df"))
    val scored = tf.join(sourceDf, Seq("tok"))
      .withColumn("score", dv(col("tf"), col("source_df")))
    graft.operators.TopK.topKPerKey(scored,
        keys = Seq(col("source")),
        order = Seq(col("score").desc, col("tok")),
        saltOn = Seq(col("tok")),
        k = k, rankCol = "term_rank")
      .select(col("source"), col("term_rank").cast("int").as("term_rank"),
        col("tok"), col("tf"), col("source_df"), col("score"))
  }

  /** Corpus bigram language-model statistics: for every head word, the
    * top-k next words by count with the conditional probability
    * P(next | head) = pair_count / head_count as an exact integer ratio in
    * double — the n-gram LM table a data pipeline derives before training
    * (vocabulary pruning, perplexity baselines). One explode and two
    * partial-aggregatable groupBys; the per-head ranking goes through the
    * skew-safe two-phase [[graft.operators.TopK.topKPerKey]] so a
    * stop-word head ("the") that dominates the corpus cannot funnel its
    * whole continuation set through a single task. */
  def bigramLm(ctx: Ctx, k: Int = 3): DataFrame = {
    // native bigrams, counted on the single space-joined gram key and split
    // back into (w1, w2) on the REDUCED per-type relation: tokens contain no
    // whitespace (ws_tokens splits on \s+), so "w1 w2" <-> (w1, w2) is a
    // bijection and groupBy(g) == groupBy(w1, w2) — while the exploded
    // instance stream shuffles one string instead of a two-field struct
    // and the interpreted named_struct lambda disappears (guide §2.3/§4).
    val pairs = docsTok(ctx)
      .select(explode(expr("ngrams(toks, 2, 1)")).as("g"))
    val cnt = pairs.groupBy("g").agg(count(lit(1)).as("pair_count"))
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"), col("pair_count"))
    val tot = cnt.groupBy("w1").agg(sum("pair_count").as("w1_count"))
    val scored = cnt.join(tot, Seq("w1"))
      .withColumn("prob", dv(col("pair_count"), col("w1_count")))
    graft.operators.TopK.topKPerKey(scored,
        keys = Seq(col("w1")),
        order = Seq(col("pair_count").desc, col("w2")),
        saltOn = Seq(col("w2")),
        k = k, rankCol = "next_rank")
      .select(col("w1"), col("next_rank").cast("int").as("next_rank"),
        col("w2"), col("pair_count"), col("w1_count"), col("prob"))
  }

  /** [[lmScore]]'s default predictability threshold (probability 1/denom).
    * Shared constant so the Registry's oracle SQL interpolates the SAME
    * value the Scala default uses — a literal on either side could drift
    * unnoticed (r12 advice). */
  val LmScoreDenom: Int = 32

  /** Per-document bigram-LM fit score — the CCNet/KenLM-style fluency
    * filter re-expressed cross-engine exact. A true LM filter scores each
    * doc's perplexity under a reference model and drops the tail; log()'s
    * last ulp is library-dependent, so the oracle-twinned form scores in
    * the probability domain instead. Every bigram instance in a doc is
    * scored under the corpus-wide conditional model
    * p(w2|w1) = pair_count / w1_count, and the doc aggregates:
    *  - `n_bigrams`: bigram instances in the doc,
    *  - `n_predictable`: instances whose conditional probability clears
    *    1/`denom`, compared as pair_count * denom >= w1_count in exact
    *    BIGINT — the threshold is a probability, so the same denom splits
    *    any corpus size (a raw count threshold would not survive a 10x SF),
    *  - `predictable_share`: n_predictable / n_bigrams,
    *  - `mean_prob`: average conditional probability, accumulated as
    *    round(prob, 9)::DECIMAL(12,9) so the sum is order-free (the
    *    verified ADC rule — double addition is not associative and the
    *    shuffle's row order is nondeterministic).
    * Low scores mark disfluent / out-of-domain documents — the drop side
    * of the filter. Docs with < 2 tokens surface with zero counts and null
    * scores (a filter must emit a verdict for every doc, not drop the
    * unscorable silently).
    *
    * At 100 TB: one bigram explode; groupBy(w1,w2) then groupBy(w1) over
    * the already-reduced pair relation (both map-side partial); one
    * equi-join of the instance stream against the stats relation (build
    * side = one row per bigram TYPE — vocabulary-bounded, hot bigrams like
    * "of the" are heavy probe keys, which AQE's skew split handles because
    * the weight is map-side input, not join fan-out); one per-doc
    * aggregate bounded by doc length. No self-joins, no windows. */
  def lmScore(ctx: Ctx, denom: Int = LmScoreDenom): DataFrame = {
    // same g-key device as [[bigramLm]]: the corpus-sized instance stream
    // carries (and joins on) ONE gram string; w1 only ever exists on the
    // per-bigram-TYPE relation (vocabulary-bounded), where deriving it is a
    // codegen'd substring_index instead of an interpreted struct lambda on
    // every instance.
    val bg = docsTok(ctx)
      .select(col("doc_id"), explode(expr("ngrams(toks, 2, 1)")).as("g"))
    val cnt = bg.groupBy("g").agg(count(lit(1)).as("pair_count"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val tot = cnt.groupBy("w1").agg(sum("pair_count").as("w1_count"))
    val stats = cnt.join(tot, Seq("w1"))
      .withColumn("pdec", round(dv(col("pair_count"), col("w1_count")), 9)
        .cast("decimal(12,9)"))
    val perDoc = bg.join(stats.select("g", "pair_count", "w1_count", "pdec"),
        Seq("g"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("pair_count") * denom >= col("w1_count"), lit(1)))
          .as("n_predictable"),
        sum(col("pdec")).as("psum"))
    docs(ctx).select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_predictable"), lit(0L)).as("n_predictable"),
        rnd(dv(col("n_predictable"), col("n_bigrams")), 6)
          .as("predictable_share"),
        rnd(dv(col("psum"), col("n_bigrams")), 9).as("mean_prob"))
  }

  /** Corpus heavy hitters — every token above a frequency threshold
    * (count · denom > total tokens), exact, via the two-pass sketch shape
    * that scales to 100 TB: pass 1 streams all tokens through the bounded
    * [[graft.functions.FreqItemsSketch]] Misra-Gries aggregate (map-side
    * partial, one ≤`cap`-entry summary per partition, NO shuffle of the
    * term dictionary) yielding a candidate set mathematically guaranteed to
    * contain every item with true frequency > 2N/cap; pass 2 recounts ONLY
    * the ≤cap candidates exactly and applies the threshold. The
    * guarantee makes the output identical to the naive full groupBy (the
    * oracle) whenever threshold 1/denom > 2/cap — here denom=500, cap=8192.
    * Contrast [[corpusVocab]], which must shuffle every distinct token
    * because it *outputs* the full vocabulary; a threshold query shouldn't
    * pay that.
    *
    * Two variants, split by EXECUTION SHAPE (r11 verdict item 2 — the
    * names carry the contract, not a registry footnote):
    *  - THIS one is fully lazy (construction runs no job; pass 1 is a
    *    one-row relation and the candidate filter a broadcast semi join);
    *  - [[heavyHittersEager]] runs pass 1 as a scalar action at
    *    construction and filters with an InSet predicate — 3.5-4x cheaper
    *    per token row (PERF_NOTES_r10.md §2), for callers that time
    *    construction+action together.
    * The recount's exchange stays bounded by the ≤cap matched groups
    * either way; the sketch's order-invariance (FreqItemsSpec) keeps both
    * deterministic. */
  def heavyHitters(ctx: Ctx, denom: Int = 500, cap: Int = 8192): DataFrame = {
    graft.functions.FreqItemsSketch.register(ctx.spark)
    val toks = docsTok(ctx).select(explode(col("toks")).as("tok"))
    // pass 1 as a RELATION (one sketch row -> ≤cap candidate rows), so the
    // whole pipeline is a lazy plan: no job runs until the consumer acts
    // (HeavyHittersLazySpec pins zero-jobs-at-construction). The candidate
    // filter is then a broadcast semi join — per-token it measures 3.5-4x
    // the InSet predicate's cost (PERF_NOTES_r10.md §2),
    // which is why the eager variant exists; this is the default because a
    // plan that runs jobs at CONSTRUCTION time under-measures in any
    // consumer that builds plans outside its timed window (the r11 scar).
    val sketch = toks
      .agg(expr(s"freq_items(tok, $cap)").as("cand"), count(lit(1)).as("n"))
    val cands = sketch
      .select(explode(col("cand")).as("c"), col("n"))
      .select(col("c.item").as("tok"), col("n"))
    toks.join(broadcast(cands), Seq("tok"), "inner")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"), max(col("n")).as("n"))
      .filter(col("cnt") * denom > col("n"))
      .select(col("tok"), col("cnt"), col("n").as("total_tokens"),
        dv(col("cnt"), col("n")).as("share"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** [[heavyHitters]] with the EAGER two-pass execution: pass 1 (the
    * bounded Misra-Gries sketch + total count) runs as a scalar action AT
    * CONSTRUCTION, and pass 2 filters with the collected candidates as an
    * InSet predicate — measured 3.5-4x cheaper per token row than the lazy
    * semi-join form doing identical work (17-22 s vs ~5 s on 248M tokens
    * at SF100; PERF_NOTES_r10.md §2). Same output, same guarantee. The
    * eagerness is in the NAME: callers timing this must start their clock
    * before construction (the Registry bench/verify paths do). */
  def heavyHittersEager(ctx: Ctx, denom: Int = 500, cap: Int = 8192): DataFrame = {
    graft.functions.FreqItemsSketch.register(ctx.spark)
    val toks = docsTok(ctx).select(explode(col("toks")).as("tok"))
    // pass 1: bounded sketch + total count, one job, ≤cap+1 values collected
    val row = toks
      .agg(expr(s"freq_items(tok, $cap)").as("cand"), count(lit(1)).as("n"))
      .head()
    val n = row.getLong(1)
    val cands = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val hit = if (cands.isEmpty) lit(false) else col("tok").isInCollection(cands)
    toks.filter(hit)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * denom > lit(n))
      .select(col("tok"), col("cnt"), lit(n).as("total_tokens"),
        dv(col("cnt"), lit(n)).as("share"))
      .orderBy(col("cnt").desc, col("tok"))
  }
}
