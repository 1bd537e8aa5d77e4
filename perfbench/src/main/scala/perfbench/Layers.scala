package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.tjk._

/** The per-layer split for the traced run. Lazy layers are timed by
  * materializing successive prefixes of the flagship into the noop sink and
  * charging each layer the difference from the previous prefix.
  */
object Layers {

  final case class Profile(metrics: Seq[(String, (Double, String))],
      checks: Seq[(String, Boolean, String)])

  /** Median wall time of a trivial stage with one task per core. */
  def stageFloor(spark: SparkSession, cores: Int): Double = {
    val sc = spark.sparkContext
    Timing.median((1 to 21).map(_ => Timing.timed(sc.parallelize(0 until cores, cores).foreach(_ => ()))._2))
  }

  /** The layer profile of `in`, after the same profile ran untimed on the
    * small input: otherwise each layer's first plan would pay its codegen.
    */
  def profile(spark: SparkSession, in: Main.Input, small: Main.Input, work: File,
      counters: Counters, tr: Tracer): Profile = {
    once(spark, small.turns, small.rows, work, counters, new Tracer(false))
    once(spark, in.turns, in.rows, work, counters, tr)
  }

  private def once(spark: SparkSession, turns: DataFrame, rows: Long, work: File,
      counters: Counters, tr: Tracer): Profile = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def cold(): Unit = spark.catalog.clearCache()
    def sink(name: String)(df: => DataFrame): Double = {
      cold()
      Timing.timed(tr(name)(Timing.noop(df)))._2
    }
    def pruned(df: DataFrame): DataFrame =
      df.select(Flagship.featureCols.filter(df.columns.contains).map(col): _*)
    val v = Flagship.withValue(turns)

    val scan = sink("layer.scan")(turns)
    m("tableio.scan_s") = (scan, "s")

    cold()
    Rolling.clearDetectionCache(spark)
    m("rolling.detect_s") = (Timing.timed(tr("layer.rolling.detect")(Rolling.rollingAgg(
      v, "conv_id", "ts", Flagship.countSum ++ Flagship.nunique, SkewPolicy.Auto)))._2, "s")

    // The detection cache is warm from here on, so no prefix pays detection.
    val prefixes = Seq(
      "rolling.window_s" -> (() => pruned(Pipeline.backfill(v,
        Flagship.spec(rolling = Flagship.countSum, lags = false, sessions = false)))),
      "rolling.nunique_s" -> (() => pruned(Pipeline.backfill(v,
        Flagship.spec(lags = false, sessions = false)))),
      "offsets.lags_s" -> (() => pruned(Pipeline.backfill(v, Flagship.spec(sessions = false)))),
      "sessionize.window_s" -> (() => Flagship.features(turns, SkewPolicy.Auto, tr)),
      "asof.attach_s" -> (() => Flagship.attach(
        Flagship.features(turns, SkewPolicy.Auto, tr), turns, tr)),
      "pipeline.session_agg_s" -> (() => Flagship.job(turns, tr)))
    var prev = scan
    prefixes.foreach { case (name, df) =>
      val s = sink(s"layer.${name.stripSuffix("_s")}")(df())
      m(name) = (s - prev, "s")
      prev = s
    }
    val featuresS = prev - m("pipeline.session_agg_s")._1 - m("asof.attach_s")._1

    val fps = PitJoin.paths.map { p =>
      cold()
      val obs = Observation()
      val ((_, s), t) = counters.measure(spark)(Timing.timed(tr(s"layer.asof.$p") {
        Timing.noop(PitJoin.join(turns, p, tr)
          .observe(obs, count(lit(1)).as("n"), Timing.hashXor(PitJoin.compared).as("h")))
      }))
      m(s"asof.${p}_s") = (s, "s")
      m(s"asof.$p.stages") = (t.stages.toDouble, "count")
      m(s"asof.$p.shuffle_bytes") = (t.shuffleWriteBytes.toDouble, "B")
      p -> ((obs.get("n").asInstanceOf[Long], obs.get("h").asInstanceOf[Long]))
    }
    checks += Checks.pathsAgree("on the whole output", fps)

    // Whales and the bucketed resume path, at the resume workload's threshold.
    val saved = spark.conf.getOption(Rolling.HotThresholdKey)
    spark.conf.set(Rolling.HotThresholdKey, Main.WhaleThreshold.toString)
    try {
      cold()
      val (counts, manifestS) = Timing.timed(tr("layer.lineage.entity_manifest") {
        Lineage.entityManifest(turns, "conv_id").where(col("row_count") >= Main.WhaleThreshold)
          .collect().map(_.getString(0)).toSeq
      })
      m("lineage.entity_manifest_s") = (manifestS, "s")
      val whales = v.where(col("conv_id").isin(counts: _*))
      val specs = Flagship.countSum ++ Flagship.nunique
      m("skew.chunked_s") = (sink("layer.skew.chunked")(Skew.chunkedRollingAgg(
        whales, "conv_id", "ts", specs, Flagship.D1.toMillis * 1000L)), "s")
      m("skew.window_whales_s") = (sink("layer.skew.window_whales")(Rolling.rollingAgg(
        whales, "conv_id", "ts", specs, SkewPolicy.WindowOnly)), "s")

      cold()
      val r = tr("layer.resume")(ResumeJob.round(spark, turns, rows,
        new File(work, "resume_layer"), counters, tr))
      m("resume.full_s") = (r.fullS, "s")
      m("resume.partial_s") = (r.partialS, "s")
      m("resume.skip_s") = (r.skipS, "s")
      m("resume.files") = (r.files.toDouble, "count")
      m("resume.written_bytes") = (r.writtenBytes.toDouble, "B")
      checks += (("resume round laws in the layer profile", r.lawsOk, r.detail))
      deleteRec(new File(work, "resume_layer"))
    } finally saved match {
      case Some(t) => spark.conf.set(Rolling.HotThresholdKey, t)
      case None => spark.conf.unset(Rolling.HotThresholdKey)
    }

    cold()
    val io = new ParquetIO(new File(work, "tableio").getPath)
    val writeS = Timing.timed(tr("layer.tableio.write")(
      io.write(Flagship.features(turns, SkewPolicy.Auto, tr), "features")))._2
    m("tableio.write_s") = (writeS - featuresS, "s")
    deleteRec(new File(work, "tableio"))
    Profile(m.toSeq, checks.toSeq)
  }
}
