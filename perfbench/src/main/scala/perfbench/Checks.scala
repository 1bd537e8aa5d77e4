package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tjk._

/** Output checks, run after the timed region. The laws over the whole
  * output are observed inside every timed repetition (see `Main.rep`), and
  * the traced run compares the three as-of paths over the whole output. A hashed slice
  * of conversations (plus the first whale) is exported with the engine's
  * features on it for the independent DuckDB computation in `check.py`:
  * every feature depends only on its own conversation, so the slice is
  * computed from its own turns.
  */
object Checks {
  val turnCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  def exportDir(work: File): File = new File(work, "check")

  def slice(df: DataFrame): DataFrame =
    df.where(pmod(xxhash64(col("conv_id")), lit(Main.SliceMod.toLong)) === 0L ||
      col("conv_id") === "c00000000")

  private def export(df: DataFrame, dir: File, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(new File(dir, name).getPath)

  /** The union, native and merge paths return the same rows. */
  def pathsAgree(where: String, fps: Seq[(String, (Long, Long))]): (String, Boolean, String) =
    (s"the union, native and merge as-of paths agree $where", fps.map(_._2).distinct.size == 1,
      fps.map { case (p, (n, h)) => s"$p=($n,$h)" }.mkString(" "))

  def run(spark: SparkSession, a: Main.Args, in: Main.Input): Seq[(String, Boolean, String)] = {
    val dir = exportDir(a.work)
    deleteRec(dir)
    dir.mkdirs()
    val off = new Tracer(false)
    Rolling.clearDetectionCache(spark)
    spark.catalog.clearCache()
    val part = slice(in.turns)
    export(part.select(turnCols.map(col): _*), dir, "turns")
    a.workload match {
      case "backfill" =>
        val joined = Flagship.attach(Flagship.features(part, SkewPolicy.Auto, off), part, off)
        export(joined, dir, "features")
        export(Flagship.sessionAgg(joined), dir, "sessions")
        Nil
      case "pit_join" =>
        export(PitJoin.join(part, "union", off), dir, "asof")
        Nil
      case "resume" =>
        val out = ResumeJob.readBack(spark, new File(a.work, "resume_out"))
        export(slice(out), dir, "features")
        val n = out.count()
        Seq(("committed feature rows equal input turns", n == in.rows, s"$n vs ${in.rows}"))
    }
  }
}
