package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** THE INGEST DOOR — the five gate stages a training-data pipeline
  * runs on every arriving document, composed as ONE operator:
  *
  *   PII scrub → URL gate → CDC duplication probe → near-dup probe →
  *   decontamination + quality gate → admit decision
  *
  * Each stage is an already-registered row's shared core, chained
  * VERBATIM (the source_card / pretrain_pipeline composition
  * discipline), so the door cannot drift from the standalone rows:
  *
  *   - scrub:      [[PiiOps.scrubFrame]] over [[PiiOps.mintedDocs]]
  *                 (the pii_redact row's exact projection)
  *   - URL gate:   [[DedupOps.mintedCanonUrls]] (dedup_url's mint +
  *                 canonicalization), first-arrival-wins vs the live
  *                 canon set and previously admitted arrivals
  *   - CDC probe:  [[DedupOps.cdcBigChunks]] (dedup_cdc's boundary
  *                 rule + length floor) vs the live chunk set
  *   - near-dup:   [[DedupOps.ingestPairs]] against
  *                 [[DedupOps.nearDupIndex]] (dedup_ingest verbatim)
  *   - decon:      [[TextAnalysis.contaminationHits]] vs the live
  *                 corpus' benchmark shingle set (decontaminate's
  *                 shingle definition)
  *   - quality:    [[TextAnalysis.qualityPpmOf]] (quality_score's
  *                 formula)
  *
  * The batch row ([[ingestDoor]]) and the streaming door
  * ([[graft.streaming.IngestStreaming.ingestDoorStream]]) share
  * [[doorFrame]] verbatim, so stream ≡ batch is an identity of code;
  * IngestDoorSpec pins the equality across a forced multi-micro-batch
  * split.
  *
  * Scale shape: every stage is batch-linear against a PERSISTENT
  * static side (canon set, chunk set, band index, bench shingles —
  * at 100 TB each is a bucketed table built once and only read per
  * arrival); the only intra-batch shuffle is the per-canon
  * first-wins window and the per-doc aggs, all keyed and
  * arrival-sized. The live corpus is never re-scanned per batch and
  * never paired against itself. */
object IngestDoor {

  /** CDC duplication gate: reject when more than half of the
    * arrival's substantial chunks already exist in the live corpus. */
  val CdcDupPpmGate = 500000L
  /** Quality floor — [[TextAnalysis.corpusClean]]'s default. */
  val QualityFloorPpm = 600000L
  /** Decontamination gate — decontaminate's minOverlap default. */
  val ContamGate = 3L

  /** The persistent static sides every arriving batch probes. Built
    * once from the live corpus ([[doorIndex]]); at 100 TB each is a
    * bucketed table keyed by its probe column. */
  final case class DoorIndex(
      liveCanon: DataFrame,   // (canon_url) distinct
      liveChunks: DataFrame,  // (chunk) distinct, ≥ CdcMinLen cps
      bench: DataFrame,       // (g) distinct benchmark shingle hashes
      nearDup: DedupOps.NearDupIndex)

  def doorIndex(live: DataFrame): DoorIndex = DoorIndex(
    liveCanon = DedupOps.mintedCanonUrls(live)
      .select(col("canon_url")).distinct(),
    liveChunks = DedupOps.cdcBigChunks(live)
      .select(col("chunk")).distinct(),
    bench = TextAnalysis.benchShingles(live),
    nearDup = DedupOps.nearDupIndex(live))

  /** Persist + materialize every static side (the streaming caller's
    * build-once step). DISK_ONLY, not MEMORY_AND_DISK: at 100 TB the
    * static sides ARE disk tables (bucketed, read per arrival), and
    * in-process the shingle/band relations are the door's bulkiest
    * state — holding them on heap for both the base and blow-up
    * corpora squeezed execution memory under the heaviest probe legs
    * (an r12 bench run OOM'd exactly there). Local-disk reads are the
    * honest cost the production posture pays. */
  def persistIndex(idx: DoorIndex): DoorIndex = {
    Seq(idx.liveCanon, idx.liveChunks, idx.bench,
      idx.nearDup.bands, idx.nearDup.shingles)
      .foreach(_.persist(StorageLevel.DISK_ONLY))
    idx
  }

  /** One door pass over an arriving batch: one output row per
    * arrival —
    *
    *   (doc_id, canon_url, url_ok, n_pii, n_big, cdc_dup_ppm,
    *    near_dup_ppm, contam_hits, quality_ppm, admit)
    *
    * `priorCanon` is the canon-URL set already ADMITTED by earlier
    * batches (empty for the one-shot batch row): across batches
    * first-arrival wins, within a batch min-doc_id wins — with
    * arrivals landing in doc_id order the union over any micro-batch
    * split equals the one-shot batch result (IngestDoorSpec). */
  def doorFrame(arrivals: DataFrame, idx: DoorIndex,
      priorCanon: DataFrame): DataFrame = {
    val base = arrivals.select(col("doc_id"))
    // URL gate: first-in-batch per canon, then anti vs live ∪ prior
    val seen = idx.liveCanon
      .union(priorCanon.select(col("canon_url"))).distinct()
    val urlg = DedupOps.mintedCanonUrls(arrivals)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))))
      .join(seen.withColumn("seen", lit(true)),
        Seq("canon_url"), "left")
      .select(col("doc_id"), col("canon_url"),
        (col("rn") === 1 && col("seen").isNull).as("url_ok"))
    // PII scrub (the pii_redact projection)
    val pii = PiiOps.scrubFrame(PiiOps.mintedDocs(arrivals))
      .select(col("doc_id"), col("n_pii"))
    // CDC probe vs the live chunk set
    val bigA = DedupOps.cdcBigChunks(arrivals)
    val nb = bigA.groupBy(col("doc_id")).agg(count(lit(1)).as("n_big"))
    val db = bigA.join(idx.liveChunks, Seq("chunk"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_big"))
    val cdc = nb.join(db, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_big"),
        expr("coalesce(dup_big, 0L) * 1000000 DIV n_big")
          .as("cdc_dup_ppm"))
    // Near-dup probe vs the band index
    val nd = DedupOps.ingestPairs(arrivals, idx.nearDup, 0.5)
      .groupBy(col("new_id").as("doc_id"))
      .agg(floor(max(col("jaccard")) * 1000000).cast("long")
        .as("near_dup_ppm"))
    // Decontamination vs the live bench shingle set (full counts;
    // the ≥ ContamGate cut happens in the admit rule)
    val hits = TextAnalysis.contaminationHits(arrivals, idx.bench, 1)
      .select(col("doc_id"), col("n_hits"))
    // Quality
    val qual = TextAnalysis.qualityPpmOf(arrivals)
    // The six gate legs are INDEPENDENT subtrees over the same arrival
    // slice — materialize them concurrently (guide §2.6, r14 verdict
    // #4) instead of letting the final join chain execute them as ~15
    // sequential small-stage rounds. Plans per leg unchanged ⇒ rows
    // bit-identical; works unchanged under foreachBatch, so the
    // stream ≡ batch code identity (IngestDoorSpec) is preserved.
    val Seq(urlgM, piiM, cdcM, ndM, hitsM, qualM) =
      ConcurrentLegs.materialize(Seq(urlg, pii, cdc, nd, hits, qual))
    base
      .join(urlgM, Seq("doc_id"), "left")
      .join(piiM, Seq("doc_id"), "left")
      .join(cdcM, Seq("doc_id"), "left")
      .join(ndM, Seq("doc_id"), "left")
      .join(hitsM, Seq("doc_id"), "left")
      .join(qualM, Seq("doc_id"), "left")
      .select(col("doc_id"), col("canon_url"),
        coalesce(col("url_ok"), lit(false)).as("url_ok"),
        col("n_pii"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("cdc_dup_ppm"), lit(0L)).as("cdc_dup_ppm"),
        coalesce(col("near_dup_ppm"), lit(0L)).as("near_dup_ppm"),
        coalesce(col("n_hits"), lit(0L)).as("contam_hits"),
        col("quality_ppm"))
      .withColumn("admit",
        col("url_ok") && col("near_dup_ppm") === 0L &&
          col("contam_hits") < ContamGate &&
          col("cdc_dup_ppm") < CdcDupPpmGate &&
          coalesce(col("quality_ppm"), lit(0L)) >= QualityFloorPpm)
  }

  /** Per-(session, dir) memo of the door's build-once side: the
    * one-scan (doc_id, text, source) corpus checkpoint and the
    * TRAINED, persisted static indexes over the live slice (r11
    * verdict #2). The registered row's repeated runs — and its
    * blow-up probe legs — then measure the PER-ARRIVAL cost the
    * operator's contract states (every static side a bucketed table
    * built once at 100 TB); the training cost is the bench's untimed,
    * separately-reported `door_index` prep line, exactly the
    * media_fp_graphs discipline. */
  private val sidesMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), (DataFrame, DoorIndex)]()

  private[graft] def doorSidesFor(spark: SparkSession,
      dir: String): (DataFrame, DoorIndex) = {
    Memos.purgeStopped(sidesMemo)
    sidesMemo.computeIfAbsent((spark, dir), key => {
      // ONE corpus scan (the media_pipeline discipline): every gate
      // reads only (doc_id, text, source), and the un-checkpointed
      // composition re-scanned the table 15× — once per stage leg
      val d = Tables.load(key._1, key._2, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .localCheckpoint()
      val live = d.filter(
        !(col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem))
      val idx = persistIndex(doorIndex(live))
      // materialize every side NOW: persist alone is lazy, and a
      // half-trained index would charge training into the first
      // timed consumer (the r8 embed_probe skew)
      Seq(idx.liveCanon, idx.liveChunks, idx.bench,
        idx.nearDup.bands, idx.nearDup.shingles).foreach(_.count())
      (d, idx)
    })
  }

  /** Re-persist + re-materialize the memoized static sides after an
    * external CacheManager flush: `spark.catalog.clearCache()` (the
    * Bench's pre-probe reset) evicts the DISK_ONLY persists while the
    * memo keeps handing out the same DataFrames — every subsequent
    * action would silently retrain all five sides from the corpus
    * checkpoint, charging training into the per-arrival legs (r12
    * advice). The corpus checkpoint itself is RDD-level
    * (localCheckpoint) and survives the flush. No-op when the dir was
    * never prepped in this session. */
  private[graft] def rematerializeSides(spark: SparkSession,
      dir: String): Unit =
    Option(sidesMemo.get((spark, dir))).foreach { case (_, idx) =>
      Seq(idx.liveCanon, idx.liveChunks, idx.bench,
        idx.nearDup.bands, idx.nearDup.shingles).foreach { s =>
        s.persist(StorageLevel.DISK_ONLY); s.count()
      }
    }

  /** Registered row: the one-shot door over the dedup_ingest arrival
    * slice (doc_id mod [[DedupOps.IngestMod]] = [[DedupOps.IngestRem]])
    * vs the rest of the corpus as the live side ([[doorSidesFor]]
    * holds the build-once static sides). */
  def ingestDoor(spark: SparkSession, dir: String): DataFrame = {
    val (d, idx) = doorSidesFor(spark, dir)
    val isNew =
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    val emptyPrior = DedupOps.mintedCanonUrls(d.limit(0))
      .select(col("canon_url"))
    doorFrame(d.filter(isNew), idx, emptyPrior)
      .orderBy(col("doc_id"))
  }

  /** Composed DuckDB replay: the constituents' committed CTEs / SQL
    * as subqueries (the source_card idiom) — the canon chain
    * ([[DedupOps.canonCtesSql]]), the CDC chunk chain
    * ([[DedupOps.cdcChunkCtesSql]]), the shingle chain
    * ([[TextAnalysis.shingleCtesSql]]), and the committed
    * pii_redact / dedup_ingest / quality_score SQL verbatim. */
  lazy val ingestDoorSql: String = {
    val m = DedupOps.IngestMod
    val r = DedupOps.IngestRem
    s"""WITH ${TextAnalysis.shingleCtesSql},
       |${DedupOps.canonCtesSql},
       |${DedupOps.cdcChunkCtesSql},
       |arr AS (
       |  SELECT doc_id FROM documents WHERE doc_id % $m = $r),
       |livec AS (
       |  SELECT DISTINCT canon_url FROM canon WHERE doc_id % $m <> $r),
       |urlok AS (
       |  SELECT doc_id, canon_url,
       |    (rn = 1 AND canon_url NOT IN (SELECT canon_url FROM livec))
       |      AS url_ok
       |  FROM (
       |    SELECT doc_id, canon_url,
       |      row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
       |        AS rn
       |    FROM canon WHERE doc_id % $m = $r) u),
       |bigc AS (
       |  SELECT doc_id, chunk FROM ch
       |  WHERE len(chunk) >= ${DedupOps.CdcMinLen}),
       |livech AS (
       |  SELECT DISTINCT chunk FROM bigc WHERE doc_id % $m <> $r),
       |nbig AS (
       |  SELECT doc_id, COUNT(*) AS n_big FROM bigc
       |  WHERE doc_id % $m = $r GROUP BY 1),
       |dbig AS (
       |  SELECT doc_id, COUNT(*) AS dup_big FROM bigc
       |  WHERE doc_id % $m = $r
       |    AND chunk IN (SELECT chunk FROM livech) GROUP BY 1),
       |cdc AS (
       |  SELECT n.doc_id, n.n_big,
       |    COALESCE(d2.dup_big, 0) * 1000000 // n.n_big AS cdc_dup_ppm
       |  FROM nbig n LEFT JOIN dbig d2 ON n.doc_id = d2.doc_id),
       |nd AS (
       |  SELECT new_id AS doc_id,
       |    CAST(floor(MAX(jaccard) * 1000000) AS BIGINT) AS near_dup_ppm
       |  FROM (${DedupOps.dedupIngestSql}) GROUP BY 1),
       |benchl AS (
       |  SELECT DISTINCT unnest(sh) AS g FROM s
       |  WHERE doc_id % 97 = 0 AND doc_id % $m <> $r),
       |corp AS (
       |  SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s
       |  WHERE doc_id % 97 <> 0 AND doc_id % $m = $r),
       |hits AS (
       |  SELECT c.doc_id, COUNT(*) AS n_hits
       |  FROM corp c JOIN benchl b USING (g) GROUP BY 1),
       |pii AS (
       |  SELECT doc_id, n_pii FROM (${PiiOps.piiRedactSql})),
       |qual AS (
       |  SELECT doc_id, quality_ppm
       |  FROM (${TextAnalysis.qualityScoreSql}))
       |SELECT a.doc_id, u.canon_url,
       |  COALESCE(u.url_ok, FALSE) AS url_ok,
       |  p.n_pii,
       |  CAST(COALESCE(c.n_big, 0) AS BIGINT) AS n_big,
       |  CAST(COALESCE(c.cdc_dup_ppm, 0) AS BIGINT) AS cdc_dup_ppm,
       |  COALESCE(nd.near_dup_ppm, 0) AS near_dup_ppm,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS contam_hits,
       |  q.quality_ppm,
       |  (COALESCE(u.url_ok, FALSE)
       |    AND COALESCE(nd.near_dup_ppm, 0) = 0
       |    AND COALESCE(h.n_hits, 0) < $ContamGate
       |    AND COALESCE(c.cdc_dup_ppm, 0) < $CdcDupPpmGate
       |    AND COALESCE(q.quality_ppm, 0) >= $QualityFloorPpm) AS admit
       |FROM arr a
       |LEFT JOIN urlok u ON a.doc_id = u.doc_id
       |LEFT JOIN pii p ON a.doc_id = p.doc_id
       |LEFT JOIN cdc c ON a.doc_id = c.doc_id
       |LEFT JOIN nd ON a.doc_id = nd.doc_id
       |LEFT JOIN hits h ON a.doc_id = h.doc_id
       |LEFT JOIN qual q ON a.doc_id = q.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }
}
