package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev micro-benchmark: time individual SparkEntry queries (or ad-hoc
  * plan fragments) with warmup, outside the full Bench harness.
  *
  * Usage: sbt "Test/runMain graft.tools.ProfileMain <sfDir> <query>[,<query>...] [reps]"
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warmup: pay session/codegen startup on a trivial job
    spark.range(1000).agg(sum(col("id"))).collect()

    import org.apache.spark.sql.{DataFrame, SparkSession => SS}
    import graft.operators.{CandidatePairs, DedupOps}
    def mhDocs(s: SS, d: String) = graft.sources.Tables.load(s, d, "documents")

    def mhAggVariant(s: SS, d: String,
        f: (org.apache.spark.sql.Column, Long, Long, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame = {
      val rng = new scala.util.Random(42)
      val fam = Array.fill(32)((rng.nextInt(Int.MaxValue - 1).toLong % 1073741788L + 1,
        rng.nextInt(Int.MaxValue).toLong % 1073741789L))
      val exploded = mhDocs(s, d)
        .select(col("doc_id"), DedupOps.tokenHashes(col("text")).as("th"))
        .select(col("doc_id"),
          explode(array_distinct(DedupOps.shingleHashesFrom(col("th")))).as("h0"))
      val mins = (0 until 32).map { i =>
        val (a, b) = fam(i)
        min(f(col("h0"), a, b, lit(1073741789L))).as(s"h$i")
      }
      exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .groupBy().count()
    }
    // ad-hoc plan fragments for dissecting slow queries
    val adhoc: Map[String, (SS, String) => DataFrame] = Map(
      "mh_sigs" -> ((s, d) => DedupOps.minhashSignatures(mhDocs(s, d))),
      "mh_cands" -> ((s, d) => CandidatePairs.selfJoin(DedupOps.lshBands(
        DedupOps.minhashSignatures(mhDocs(s, d)), 32, 8), Seq("band", "bh"))),
      "mh_pairs" -> ((s, d) => DedupOps.minhashPairs(mhDocs(s, d))),
      "mh_cands1r" -> ((s, d) => CandidatePairs.selfJoin(DedupOps.lshBands(
        DedupOps.minhashSignatures(mhDocs(s, d)), 32, 32), Seq("band", "bh"))),
      "mh_explode" -> ((s, d) => mhDocs(s, d)
        .select(col("doc_id"), DedupOps.tokenHashes(col("text")).as("th"))
        .select(col("doc_id"),
          explode(array_distinct(DedupOps.shingleHashesFrom(col("th"))))
            .as("h0"))
        .groupBy().count()),
      "mh_tok" -> ((s, d) => mhDocs(s, d)
        .select(col("doc_id"), DedupOps.tokenHashes(col("text")).as("th"))
        .select(sum(size(col("th")))).toDF("n")),
      "mh_agg_plain" -> ((s, d) => mhAggVariant(s, d, (h, a, b, m) => h * a + b)),
      "mh_agg_rem" -> ((s, d) => mhAggVariant(s, d, (h, a, b, m) => (h * a + b) % m)),
      "mh_agg_pmod" -> ((s, d) => mhAggVariant(s, d, (h, a, b, m) => pmod(h * a + b, m))),
      "mh_sets_sig" -> ((s, d) => DedupOps.minhashSignaturesFromSets(
        mhDocs(s, d)
          .select(col("doc_id"), DedupOps.tokenHashes(col("text")).as("th")),
        array_distinct(DedupOps.shingleHashesFrom(col("th"))))
        .groupBy().count()),
      "dj_sigs" -> ((s, d) => DedupOps.minhashSignaturesFromSets(mhDocs(s, d),
        array_distinct(DedupOps.tokenHashes(col("text"))), 32)
        .groupBy().count()),
      "dj_cands" -> ((s, d) => {
        val block = Seq("lang", "source")
        val sigs = DedupOps.minhashSignaturesFromSets(mhDocs(s, d),
          array_distinct(DedupOps.tokenHashes(col("text"))), 32, block)
        CandidatePairs.selfJoin(DedupOps.lshBands(sigs, 32, 16, block),
          Seq("band", "bh"), block = block)
      }))

    names.foreach { rawName =>
      val explain = rawName.endsWith("!")
      val name = rawName.stripSuffix("!")
      val fn = adhoc.getOrElse(name, graft.SparkEntry.queries(name))
      if (explain) {
        println(s"===== PLAN $name =====")
        println(fn(spark, sfDir).queryExecution.executedPlan.toString)
      } else (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"PROFILE $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      }
    }
    spark.stop()
  }
}
