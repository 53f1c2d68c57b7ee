package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.api.{JsonPairProtocol, MrPipeline, MrStep}
import graft.operators._
import graft.sources.{ArtifactStore, Tables, TextSink}

/** The benchmark's client: one thread issuing rows one at a time, in a
  * closed loop, to a `local[cpus]` session, through the engine's public
  * entry points. Driven by `perfbench/run.py`, which prepares the
  * inputs, launches this JVM, checks the outputs against DuckDB and
  * prints the metrics.
  *
  * Two kinds of workload:
  *  - `warm`: setup builds the workload's prep products, runs one
  *    untimed pass that writes every row's output as parquet for the
  *    oracle check and one untimed warm pass, and waits for the JIT to
  *    go idle; timed passes then repeat over the rows into the `noop`
  *    sink until `seconds` have passed.
  *  - `cold`: the mrjob user's one-shot job in a fresh JVM with empty
  *    artifact and scratch roots: exactly one pass that stages text,
  *    runs a word-count MrStep through TextSink/JsonPairProtocol, builds
  *    its prep products and writes each row as parquet part-files.
  *
  * Writes `result.json` (and, when traced, `trace.jsonl`) into `out`.
  */
object Main {

  final case class Conf(kind: String, rows: Seq[String], prep: Seq[String],
      data: String, out: String, seconds: Double, trace: Boolean,
      cpus: Int, scratch: String, localDir: String)

  /** The prep products: memos and artifacts that rows consume, built
    * through the engine's own builders. */
  val PrepProducts: Map[String, (SparkSession, String) => Unit] = Map(
    "cluster_labels" -> ((s, d) => DedupOps.clusterLabels(s, d).count()),
    "dedup_jaccard_pairs" -> ((s, d) => DedupOps.dedupJaccard(s, d).count()),
    "lloyd_and_shortlist" -> ((s, d) => ClusterOps.prewarm(s, d)),
    "ivf_index" -> ((s, d) => SimilarityOps.prewarm(s, d)),
    "media_fp_graphs" -> ((s, d) => {
      MultimodalOps.imageFpGraphFor(s, d)._2.count()
      MultimodalOps.audioFpGraphFor(s, d)._2.count()
    }),
    "media_labels" -> ((s, d) => {
      MultimodalOps.imageClusterLabels(s, d).count()
      MultimodalOps.audioClusterLabels(s, d).count()
    }),
    "video_labels" -> ((s, d) => VideoOps.videoClusterLabels(s, d).count()),
    "bpe_learner" -> ((s, d) => BpeOps.learnedForDir(s, d, BpeOps.Merges)),
    "door_index" -> ((s, d) => IngestDoor.doorSidesFor(s, d)))

  /** The mrjob word count (mr_word_freq_count): tokenizing mapper,
    * summing combiner, summing reducer. */
  val WordCount = MrStep[String, String, String, Long, String, Long](
    mapper = (_, line) => line.split(" ").iterator.map(w => (w, 1L)),
    combiner = Some((_: String, n: Iterator[Long]) => Iterator.single(n.sum)),
    reducer = (w, n) => Iterator.single((w, n.sum)))

  /** Rows that go through MrPipeline/MrStep (the `api` layer). */
  val MrRows = Set("mr_wordcount", "wc_mr", "word_freq_mr")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    kv("mode") match {
      case "oracle-sql" =>
        val json = JObject(SparkEntry.oracleSql.toList.sortBy(_._1)
          .map { case (k, v) => JField(k, JString(v)) })
        write(kv("out"), compact(render(json)))
      case "run" =>
        run(Conf(kv("kind"), list(kv("rows")), list(kv.getOrElse("prep", "")),
          kv("data"), kv("out"), kv("seconds").toDouble, kv("trace") == "1",
          kv("cpus").toInt, kv("scratch"), kv("local-dir")))
    }
  }

  private def list(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  final case class RowOut(name: String, kind: String, seconds: Double,
      error: Option[String])

  final case class Check(row: String, path: String, format: String)

  /** One pass over the workload's rows, and what the trace saw of it. */
  final case class PassOut(index: Int, traced: Boolean, wallS: Double,
      rows: Seq[RowOut], layers: Map[String, Double])

  def run(c: Conf): Unit = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", c.localDir)
      .config("spark.graft.scratch.dir", c.scratch)
      // room for every event of a traced pass: a full queue drops
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tr = new Tracer(sc)
    val sessionUs = Clock.nowUs
    val out = c.out
    val checks = Seq.newBuilder[Check]
    val setupPrep = Seq.newBuilder[(String, Double)]
    val passes = Seq.newBuilder[PassOut]

    // storage-memory high-water, sampled at row boundaries of traced passes
    var storagePeak = 0L
    def sampleStorage(): Unit = if (tr.collector.isDefined) {
      val used = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      storagePeak = math.max(storagePeak, used)
    }

    def rowRun(name: String, kind: String, parent: Long)(
        body: Long => Unit): RowOut = {
      val t0 = System.nanoTime()
      val err = try { tr.row(name, parent)(body); None } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          Some(e.toString.take(500))
      }
      RowOut(name, kind, (System.nanoTime() - t0) / 1e9, err)
    }

    /** A catalog row: build the query, force its physical plan, then
      * run the write action into `sink` (`noop`, or a parquet dir the
      * way GraftCli writes). */
    def query(name: String, parent: Long, sink: Option[String]): RowOut =
      rowRun(name, "query", parent) { id =>
        val (df, _) = tr.span("build", name, id) {
          SparkEntry.queries(name)(spark, c.data)
        }
        tr.span("plan", name, id)(df.queryExecution.executedPlan)
        sink match {
          case None => tr.span("action", name, id) {
            df.write.format("noop").mode("overwrite").save()
          }
          case Some(p) => tr.span("write", name, id) {
            df.write.mode("overwrite").parquet(p)
          }
        }
        sampleStorage()
      }

    def prep(name: String, parent: Long): RowOut =
      rowRun(name, "prep", parent) { id =>
        tr.span("prep", name, id)(PrepProducts(name)(spark, c.data))
        sampleStorage()
      }

    /** documents → text part-files → MrPipeline.fromText → word-count
      * MrStep → TextSink.write(JsonPairProtocol) → readBack. */
    def mrWordCount(parent: Long, dir: String): RowOut =
      rowRun("mr_wordcount", "query", parent) { id =>
        import spark.implicits._
        val textDir = s"$dir/docs_text"
        val outDir = s"$dir/mr_wordcount"
        tr.span("write", "stage_text", id) {
          Tables.load(spark, c.data, "documents").select("text")
            .filter(col("text").isNotNull).write.mode("overwrite").text(textDir)
        }
        val (counts, _) = tr.span("build", "mr_wordcount", id) {
          MrPipeline.fromText(spark, textDir).step(WordCount).ds
        }
        val jv = Encoders.kryo[(JValue, JValue)]
        tr.span("write", "mr_wordcount", id) {
          TextSink.write(counts.map { case (w, n) =>
            (JString(w): JValue, JLong(n): JValue) }(jv), JsonPairProtocol, outDir)
        }
        val (back, _) = tr.span("readback", "mr_wordcount", id) {
          TextSink.readBack(spark, JsonPairProtocol, outDir)(jv).collect()
        }
        val lines = back.map { case (k, v) => compact(render(JArray(List(k, v)))) }
        write(s"$dir/mr_wordcount.jsonl", lines.mkString("", "\n", "\n"))
        checks += Check("mr_wordcount", s"$dir/mr_wordcount.jsonl", "jsonl")
      }

    def onePass(index: Int, traced: Boolean)(body: Long => Seq[RowOut]): PassOut = {
      if (traced) tr.attach()
      storagePeak = 0L
      val jvm0 = JvmStats.sample()
      val built0 = ArtifactStore.builds
      val first = tr.spans.size
      val passId = tr.newId()
      val t0 = Clock.nowUs
      val rows = body(passId)
      val wall = (Clock.nowUs - t0) / 1e6
      val jvm1 = JvmStats.sample()
      val base = Map(
        "jvm.gc_s" -> (jvm1.gcMs - jvm0.gcMs) / 1e3,
        "jvm.heap_peak_mb" -> jvm1.heapPeakMb,
        "artifacts.dirs_built" -> (ArtifactStore.builds - built0).toDouble)
      val layers = tr.collector.fold(base) { col =>
        base ++ Layers.of(col, tr.spans.drop(first).toSeq, wall, c.cpus) ++ Map(
          "storage.mem_peak_mb" -> storagePeak / 1048576.0,
          "storage.blocks_live_end" ->
            sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum.toDouble)
      }
      tr.detach()
      PassOut(index, traced, wall, rows, layers)
    }

    def finish(readyUs: Long, checkRows: Seq[RowOut]): Unit = {
      if (c.trace) tr.checkDropped()
      val res: JValue =
        ("setup_s" -> (readyUs - jvmStartUs) / 1e6) ~
        ("session_s" -> (sessionUs - jvmStartUs) / 1e6) ~
        ("setup_prep" -> setupPrep.result().map { case (k, v) => k -> v }.toMap) ~
        ("check_rows" -> checkRows.map(rowJson)) ~
        ("checks" -> checks.result().map(k =>
          ("row" -> k.row) ~ ("path" -> k.path) ~ ("format" -> k.format))) ~
        ("passes" -> passes.result().map(p =>
          ("index" -> p.index) ~ ("traced" -> p.traced) ~ ("wall_s" -> p.wallS) ~
          ("rows" -> p.rows.map(rowJson)) ~ ("layers" -> p.layers))) ~
        ("trace_invalid" -> tr.invalid) ~
        ("rss_peak_mb" -> JvmStats.rssPeakMb) ~
        ("cpus" -> c.cpus) ~
        ("heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0) ~
        ("load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
      if (c.trace)
        write(s"$out/trace.jsonl", tr.dump().map(j => compact(render(j))).mkString("\n"))
      write(s"$out/result.json", compact(render(res)))
    }

    c.kind match {
      case "warm" =>
        c.prep.foreach(p => setupPrep += p -> prep(p, 0L).seconds)
        // Untimed: a check pass writes each row's output as parquet for
        // the oracle check, then a warm pass repeats the rows into the
        // timed sink. A row's first two runs in a JVM are still JIT- and
        // codegen-cold (measured 25-45% slower than its third), so the
        // timed passes start at its third.
        val checkRows = c.rows.map { r =>
          val p = s"$out/check/$r"
          checks += Check(r, p, "parquet")
          query(r, 0L, Some(p))
        }
        c.rows.foreach(query(_, 0L, None))
        JvmStats.settle()
        val readyUs = Clock.nowUs
        val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
        var i = 0
        // traced runs compare untraced and traced passes in the order
        // U T T U, so a drift across passes cancels out of the overhead
        while (System.nanoTime() < deadline || (c.trace && i < 4)) {
          val traced = c.trace && (i % 4 == 1 || i % 4 == 2)
          passes += onePass(i, traced)(pid => c.rows.map(query(_, pid, None)))
          i += 1
        }
        finish(readyUs, checkRows)
      case "cold" =>
        // session start includes one small scan, so the pass does not
        // also time loading the classes of a JVM's first Spark job; it
        // builds no memo or artifact
        Tables.load(spark, c.data, "region").count()
        JvmStats.resetRssPeak()
        val readyUs = Clock.nowUs
        val dir = s"$out/pass0"
        passes += onePass(0, c.trace) { pid =>
          val mr = mrWordCount(pid, dir)
          val preps = c.prep.map(prep(_, pid))
          val rows = c.rows.map { r =>
            val p = s"$dir/$r"
            checks += Check(r, p, "parquet")
            query(r, pid, Some(p))
          }
          (mr +: preps) ++ rows
        }
        finish(readyUs, Nil)
    }

    spark.stop()
  }

  private def rowJson(r: RowOut): JValue =
    ("name" -> r.name) ~ ("kind" -> r.kind) ~ ("seconds" -> r.seconds) ~
      ("error" -> r.error)
}

/** JVM-wide GC time, heap high-water and process RSS high-water. */
object JvmStats {
  final case class Sample(gcMs: Long, heapPeakMb: Double)

  /** GC time so far, and the heap pools' peak since the last sample
    * (each sample resets the peaks). */
  def sample(): Sample = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val peak = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    heap.foreach(_.resetPeakUsage())
    Sample(gc, peak)
  }

  /** Let the setup's queued JIT compilations finish, so the timed
    * passes start from the same state in every run: wait (at most 5 s)
    * until the JIT compiler has been idle for 300 ms. No full GC here:
    * one measurably slows the next pass (it drops soft-referenced
    * caches and unloads generated classes). Resets the RSS high-water
    * mark last. */
  def settle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
    resetRssPeak()
  }

  /** Restart VmHWM from the current RSS (Linux `clear_refs` 5), so the
    * reported peak covers the timed passes only. */
  def resetRssPeak(): Unit =
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)

  /** VmHWM of this process, in MB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
