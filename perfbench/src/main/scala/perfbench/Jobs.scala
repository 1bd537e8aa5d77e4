package perfbench

import java.io.File
import java.time.Duration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tjk._

/** The flagship backfill, composed from the engine's public calls: rolling
  * {1h, 24h} × {count, sum, nunique}, lag {1, 3}, 30-minute sessions, an
  * as-of attach of the last `code` tool turn and a per-session aggregate.
  */
object Flagship {
  val H1: Duration = Duration.ofHours(1)
  val D1: Duration = Duration.ofHours(24)
  val countSum: Seq[RollingSpec] = Seq(
    RollingSpec("value", Agg.Count, H1), RollingSpec("value", Agg.Sum, H1),
    RollingSpec("value", Agg.Count, D1), RollingSpec("value", Agg.Sum, D1))
  val nunique: Seq[RollingSpec] = Seq(
    RollingSpec("tool", Agg.NUnique, H1), RollingSpec("tool", Agg.NUnique, D1))
  val lagSpecs: Seq[(String, Int)] = Seq(("value", 1), ("value", 3))
  val gap: Duration = Duration.ofMinutes(30)

  /** turn_idx is kept so an outside engine can match rows that tie on ts. */
  val featureCols: Seq[String] = Seq("conv_id", "turn_idx", "ts", "session_id",
    "count_value_3600s", "sum_value_3600s", "count_value_86400s", "sum_value_86400s",
    "nunique_tool_3600s", "nunique_tool_86400s", "lag_value_1", "lag_value_3")

  def withValue(turns: DataFrame): DataFrame =
    turns.withColumn("value", length(col("text")).cast("double"))

  def spec(
      rolling: Seq[RollingSpec] = countSum ++ nunique,
      lags: Boolean = true,
      sessions: Boolean = true): FeatureSpec =
    FeatureSpec(rolling = rolling, lags = if (lags) lagSpecs else Nil,
      sessionGap = if (sessions) Some(gap) else None)

  def features(turns: DataFrame, policy: SkewPolicy, tr: Tracer): DataFrame =
    tr("Pipeline.backfill")(Pipeline.backfill(withValue(turns), spec(), skewPolicy = policy))
      .select(featureCols.map(col): _*)

  def side(turns: DataFrame): DataFrame =
    withValue(turns).where(col("tool") === "code")
      .select(col("conv_id"), col("ts").as("side_ts"),
        col("turn_idx").cast("long").as("side_tie"), col("value").as("side_value"))

  def attach(features: DataFrame, turns: DataFrame, tr: Tracer): DataFrame =
    tr("AsOf.asofJoin")(AsOf.asofJoin(features, side(turns), "conv_id", "ts", "side_ts",
      Seq("side_value"), tieCol = Some("side_tie")))

  def sessionAgg(joined: DataFrame): DataFrame =
    joined.groupBy("conv_id", "session_id").agg(
      count(lit(1)).as("n_turns"),
      sum(col("sum_value_3600s")).as("s1"),
      max(col("count_value_86400s")).as("c24"),
      max(col("nunique_tool_3600s")).as("nu1"),
      avg(col("lag_value_1")).as("l1"),
      avg(col("side_value")).as("sv"))

  def job(turns: DataFrame, tr: Tracer): DataFrame =
    sessionAgg(attach(features(turns, SkewPolicy.Auto, tr), turns, tr))
}

/** An observation spine (one row per user turn) as-of joined to one event
  * table per tool: `search` tie-broken, `code` strict with a 1-hour
  * tolerance, `browse` with the engine's matched-ts column. Each event also
  * carries its own ts as payload (`<tool>_ets`), so the leakage law and the
  * path comparison can read what was matched.
  */
object PitJoin {
  val tools: Seq[String] = Seq("search", "code", "browse")
  val tolerance: Duration = Duration.ofHours(1)
  val paths: Seq[String] = Seq("union", "native", "merge")

  def spine(turns: DataFrame): DataFrame =
    turns.where(col("role") === "user").select("conv_id", "turn_idx", "ts")

  def events(turns: DataFrame, tool: String): DataFrame =
    turns.where(col("tool") === tool).select(
      col("conv_id"), col("ts").as(s"${tool}_ev_ts"),
      col("turn_idx").cast("long").as(s"${tool}_tie"),
      length(col("text")).cast("long").as(s"${tool}_value"),
      col("ts").as(s"${tool}_ets"))

  /** `union` is whatever `AsOf.asofJoin` does by default; the merge path
    * has no matched-ts option, so its output lacks `browse_mts`.
    */
  def join(turns: DataFrame, path: String, tr: Tracer): DataFrame =
    tools.foldLeft(spine(turns)) { (sp, tool) =>
      val strict = tool == "code"
      val tol = if (strict) Some(tolerance) else None
      val mts = if (tool == "browse") Some("browse_mts") else None
      val (ev, evTs, pay, tie) =
        (events(turns, tool), s"${tool}_ev_ts", Seq(s"${tool}_value", s"${tool}_ets"),
          Some(s"${tool}_tie"))
      path match {
        case "union" => tr("AsOf.asofJoin")(
          AsOf.asofJoin(sp, ev, "conv_id", "ts", evTs, pay, tie, tol, strict, mts))
        case "native" => tr("AsOf.asofJoinNative")(
          AsOf.asofJoinNative(sp, ev, "conv_id", "ts", evTs, pay, tie, tol, strict, mts))
        case "merge" => tr("AsOf.asofJoinMerge")(
          AsOf.asofJoinMerge(sp, ev, "conv_id", "ts", evTs, pay, tie, tol, strict))
      }
    }

  /** True on a row that breaks zero leakage, the tolerance, or matched-ts
    * agreement.
    */
  val violation: Column = {
    def bad(tool: String, strict: Boolean): Column = {
      val ets = col(s"${tool}_ets")
      val late = if (strict) ets >= col("ts") else ets > col("ts")
      coalesce(late, lit(false)) || (ets.isNull =!= col(s"${tool}_value").isNull)
    }
    val tolBad = coalesce(
      unix_micros(col("ts")) - unix_micros(col("code_ets")) > tolerance.toMillis * 1000L,
      lit(false))
    bad("search", false) || bad("code", true) || bad("browse", false) || tolBad ||
      !col("browse_mts").eqNullSafe(col("browse_ets"))
  }

  /** The columns every path returns, for comparing the paths. */
  val compared: Seq[String] =
    Seq("conv_id", "turn_idx", "ts") ++ tools.flatMap(t => Seq(s"${t}_value", s"${t}_ets"))
}

/** The backfill features run bucket by bucket through `Resume.runBucketed`,
  * with whales routed from `Lineage.entityManifest` counts.
  */
object ResumeJob {
  val buckets = 16

  final case class Round(
      fullS: Double, partialS: Double, skipS: Double,
      writtenBytes: Long, files: Long, lawsOk: Boolean, detail: String,
      full: Totals)

  def job(counts: DataFrame, tr: Tracer)(df: DataFrame): DataFrame =
    Flagship.features(df, SkewPolicy.Precomputed(counts, "row_count"), tr)

  /** One round: full pass, a quarter of the manifests deleted and
    * recovered, then a pass that must skip every bucket.
    */
  def round(spark: SparkSession, turns: DataFrame, rows: Long, outDir: File,
      counters: Counters, tr: Tracer): Round = {
    graft.tjk.deleteRec(outDir)
    val counts = tr("Lineage.entityManifest")(Lineage.entityManifest(turns, "conv_id")).persist()
    counts.count()
    def run(): Seq[Resume.BucketResult] = tr("Resume.runBucketed")(
      Resume.runBucketed(spark, turns, "conv_id", outDir.getPath, buckets)(job(counts, tr)))
    val ((full, fullS), totals) = counters.measure(spark)(Timing.timed(run()))
    val files = dataFiles(outDir)
    val lost = (0 until buckets).filter(_ % 4 == 0)
    lost.foreach(b => new File(outDir, s"manifest_$b.json").delete())
    val (partial, partialS) = Timing.timed(run())
    val (skip, skipS) = Timing.timed(run())
    counts.unpersist()
    val recovered = partial.filterNot(_.skipped).map(_.bucket)
    val checks = Seq(
      "full pass computed every bucket" -> full.forall(!_.skipped),
      "full pass rows equal input rows" -> (full.map(_.rowCount).sum == rows),
      "recovery recomputed exactly the deleted buckets" -> (recovered == lost),
      "recovered manifests equal the full-run manifests" -> (partial == full.map { r =>
        if (lost.contains(r.bucket)) r else r.copy(skipped = true)
      }),
      "skip pass skipped every bucket" -> skip.forall(_.skipped),
      "skip pass manifests equal the full-run manifests" ->
        (skip.map(_.copy(skipped = false)) == full))
    val failed = checks.collect { case (n, false) => n }
    Round(fullS, partialS, skipS, files.map(_.length).sum, files.size.toLong,
      failed.isEmpty,
      if (failed.isEmpty) s"${checks.size} laws hold" else failed.mkString("; "), totals)
  }

  def dataFiles(outDir: File): Seq[File] =
    Option(outDir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("bucket="))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** The committed feature rows, read back from the bucket directories. */
  def readBack(spark: SparkSession, outDir: File): DataFrame = {
    val dirs = Option(outDir.listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("bucket=") && d.listFiles().exists(_.getName.endsWith(".parquet")))
      .map(_.getPath)
    spark.read.option("basePath", outDir.getPath).parquet(dirs: _*)
      .select(Flagship.featureCols.map(col): _*)
  }
}

object Timing {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-free (row count, XOR of row hashes) over the given columns. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), hashXor(cols)).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def hashXor(cols: Seq[String]): Column = bit_xor(xxhash64(cols.map(col): _*))
}
