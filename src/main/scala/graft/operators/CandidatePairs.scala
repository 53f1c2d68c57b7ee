package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate-pair kernel every near-dup self-join runs on: the two
  * phases V-SMART-Join describes for all-pair similarity joins —
  * (1) GENERATE candidates by an equi-join on a shared bucket key
  * (LSH band hash, simhash/dHash chunk, rare shingle, prefix shingle,
  * hyperplane bucket, frame fingerprint), then (2) VERIFY the exact
  * similarity on the surviving pairs only.
  *
  * Cost model: generation costs Σ over buckets of |bucket|² — driven
  * by how many rows actually share a key, never by N² — so the key
  * (bands × rows, chunk width, df cap, prefix length) is the knob that
  * keeps it sub-quadratic; verification is linear in the candidates.
  *
  * Partitioning: a `localCheckpoint()` drops its plan's
  * `outputPartitioning` (the executed plan reads it back as
  * `Scan ExistingRDD … UnknownPartitioning(0)`), so an exchange placed
  * BELOW the checkpoint is wasted, and the self-join then plans two
  * fresh `ENSURE_REQUIREMENTS` exchanges that AQE may coalesce to a few
  * tasks — the CPU-dense bucket join runs nearly single-threaded. The
  * kernel therefore materializes the key rows first and puts ONE
  * numbered `repartition(defaultParallelism, key…)` ABOVE the
  * checkpoint: both join sides read that exchange, and a
  * `REPARTITION_BY_NUM` exchange is exempt from AQE coalescing, so the
  * join keeps full width.
  *
  * Conventions: the two join sides are aliased `x` and `y`, so `on` /
  * `score` columns name carried columns as `col("x.c")` /
  * `col("y.c")`; pairs come out as (i, j[, score…]) with `order`
  * relating x's id to y's (`_ < _` for unordered pairs, `_ <= _` to
  * keep A=A self-pairs, `_ =!= _` for directed pairs). */
object CandidatePairs {

  private def width(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Key rows materialized once, hash-partitioned on `key` above the
    * checkpoint (see the object doc). */
  private def bucketed(rows: DataFrame, key: Seq[String]): DataFrame =
    rows.localCheckpoint().repartition(width(rows), key.map(col): _*)

  /** Candidate pairs of `x` × `y` rows sharing every `key` column:
    * the key equalities, then `on`, as one join condition (conditions
    * on carried columns are pushed into the join), projected to
    * (x.id, y.id, score…) and deduplicated across keys. */
  def probe(x: DataFrame, y: DataFrame, key: Seq[String],
      id: String = "doc_id", on: Seq[Column] = Nil,
      score: Seq[Column] = Nil,
      names: (String, String) = ("i", "j")): DataFrame =
    x.as("x").join(y.as("y"),
        (key.map(k => col(s"x.$k") === col(s"y.$k")) ++ on).reduce(_ && _))
      .select(Seq(col(s"x.$id").as(names._1),
        col(s"y.$id").as(names._2)) ++ score: _*)
      .distinct()

  /** The candidate self-join: `rows` (id, key…, carried…) bucketed on
    * `key`, joined to itself on `key ++ block` with `order` on the ids
    * and `on` on carried columns. `block` columns are equality
    * constraints (e.g. a lang/source block) that do not partition. */
  def selfJoin(rows: DataFrame, key: Seq[String], id: String = "doc_id",
      order: (Column, Column) => Column = _ < _,
      block: Seq[String] = Nil, on: Seq[Column] = Nil,
      score: Seq[Column] = Nil): DataFrame = {
    val b = bucketed(rows, key)
    probe(b, b, key ++ block, id,
      order(col(s"x.$id"), col(s"y.$id")) +: on, score)
  }

  /** The df-capped co-count: over distinct (id, key) occurrence rows,
    * drop keys held by more than `cap` ids, self-join the rest on the
    * key, and count shared keys per pair. Returns ((i, j, shared),
    * (id, n)) — the set sizes come from the same capped rows, so a
    * capped key counts in neither numerator nor denominator. */
  def coCount(rows: DataFrame, key: String, cap: Long, id: String = "doc_id",
      order: (Column, Column) => Column = _ < _,
      names: (String, String) = ("i", "j")): (DataFrame, DataFrame) = {
    val occ = rows.localCheckpoint()
    val capped = bucketed(occ.join(
      occ.groupBy(col(key)).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col(key)),
      Seq(key)), Seq(key))
    val shared = capped.as("x").join(capped.as("y"),
        col(s"x.$key") === col(s"y.$key") &&
          order(col(s"x.$id"), col(s"y.$id")))
      .groupBy(col(s"x.$id").as(names._1), col(s"y.$id").as(names._2))
      .agg(count(lit(1)).as("shared"))
    (shared, capped.groupBy(col(id)).agg(count(lit(1)).as("n")))
  }

  /** Join `payload`'s `cols` onto the pair side `side` (a pair id
    * column), each arriving as `<col>_<side>`. */
  def attach(pairs: DataFrame, side: String, payload: DataFrame,
      cols: Seq[String], id: String = "doc_id"): DataFrame =
    pairs.join(payload.select(col(id).as(side) +:
      cols.map(c => col(c).as(s"${c}_$side")): _*), Seq(side))

  /** The join-back verify: both sides' payload columns attached to
    * (i, j) pairs as `<col>_i` / `<col>_j`, ready to score. */
  def verify(pairs: DataFrame, payload: DataFrame, cols: Seq[String],
      id: String = "doc_id"): DataFrame =
    attach(attach(pairs, "i", payload, cols, id), "j", payload, cols, id)

  /** Exact Jaccard of two SORTED distinct-element arrays — a codegen'd
    * two-pointer merge ([[graft.functions.SortedIntersectCount]]), not
    * a per-pair hash set. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.SortedIntersectCount.count(a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** (i, j, jaccard) for candidate pairs over `sets` (id, set) — the
    * sorted-set verify the token/shingle paths share. */
  def jaccardPairs(pairs: DataFrame, sets: DataFrame, set: String,
      id: String = "doc_id"): DataFrame =
    verify(pairs, sets, Seq(set), id).select(col("i"), col("j"),
      jaccard(col(s"${set}_i"), col(s"${set}_j")).as("jaccard"))
}
