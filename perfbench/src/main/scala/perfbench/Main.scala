package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.tjk._

/** One benchmark run: `--workload backfill|pit_join|resume --seed n
  * --seconds s --trace 0|1 --convs n --cores k --work dir --out file`.
  *
  * Set-up (session, input generated or reused and verified, warm-up) is
  * timed from JVM start. Then whole repetitions of the workload's job run,
  * one at a time, until `--seconds` have passed (at least three). The
  * repetitions' median gives the end-to-end metrics. With `--trace 1` the
  * run instead reports the per-layer split. Either way it then checks the
  * outputs and exports a slice of them for the outside check in `check.py`.
  * The result record goes to `--out`; `run.py` prints the final line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      convs: Long, cores: Int, work: File, out: File)

  final case class Input(turns: DataFrame, rows: Long, spineRows: Long)

  final case class Rep(seconds: Double, totals: Totals, ok: Boolean, detail: String)

  val Workloads: Seq[String] = Seq("backfill", "pit_join", "resume")
  /** Generator defaults: conversations of median length 20, and 0.1% of them
    * (the first `convs / 1000`) 200× longer.
    */
  val MedianLen = 20
  val HotFactor = 200
  /** Whales have MedianLen × HotFactor turns; every other conversation has
    * fewer than 2 × MedianLen, so this threshold routes exactly the whales.
    */
  val WhaleThreshold: Long = MedianLen.toLong * HotFactor / 2
  val SliceMod = 64
  val WarmSmall = 6

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $msg")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("convs").toLong, need("cores").toInt,
      new File(need("work")), new File(need("out")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    if (a.workload == "resume")
      spark.conf.set(Rolling.HotThresholdKey, WhaleThreshold.toString)
    try run(spark, a, counters, (System.currentTimeMillis() - jvmStartMs) / 1e3)
    finally spark.stop()
    log("stopped")
  }

  def run(spark: SparkSession, a: Args, counters: Counters, sessionS: Double): Unit = {
    val (dataDir, rows, prepS) = Inputs.prepare(spark, a.work, a.seed, a.convs)
    val turns = spark.read.parquet(dataDir.getPath)
    val spineRows = PitJoin.spine(turns).count()
    val in = Input(turns, rows, spineRows)
    log("input ready")
    val off = new Tracer(false)

    // Warm-up, untimed: one repetition on the input warms codegen and the
    // executors' JIT; quick ones on a small input then warm the driver's
    // planning code, whose cost does not shrink with the input.
    val small = Inputs.small(spark, a.work, a.seed)
    val (warm, warmS) = Timing.timed(rep(spark, a, in, counters, off) +:
      (1 to WarmSmall).map(_ => rep(spark, a, small, counters, off)))
    val setupS = sessionS + prepS + warmS
    log(f"set-up: session $sessionS%.2f s, input $prepS%.2f s, warm-up $warmS%.2f s")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val laws = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val done = mutable.ArrayBuffer(warm: _*)
    if (!a.trace) {
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val timed = mutable.ArrayBuffer.empty[Rep]
      while (timed.size < 3 || System.nanoTime() < deadline)
        timed += rep(spark, a, in, counters, off)
      done ++= timed
      val jobS = Timing.median(timed.map(_.seconds).toSeq)
      metrics("setup_s") = (setupS, "s")
      metrics("turns_per_s") = (rows / jobS, "1/s")
      metrics("shuffle_bytes") = (Timing.median(timed.map(_.totals.shuffleWriteBytes.toDouble).toSeq), "B")
      log(s"${a.workload}: ${timed.size} repetitions, job times " +
        timed.map(r => f"${r.seconds}%.2f(cpu ${r.totals.cpuS}%.1f gc ${r.totals.gcS}%.2f)").mkString(" "))
    } else {
      // Same job untraced, then traced: the difference is the tracing cost.
      val plain = rep(spark, a, in, counters, off)
      val tr = new Tracer(true)
      val traced = tr(s"workload.${a.workload}")(rep(spark, a, in, counters, tr))
      done ++= Seq(plain, traced)
      val t = plain.totals
      Seq("spark.jobs" -> (t.jobs.toDouble, "count"), "spark.stages" -> (t.stages.toDouble, "count"),
        "spark.tasks" -> (t.tasks.toDouble, "count"), "spark.cpu_s" -> (t.cpuS, "s"),
        "spark.gc_s" -> (t.gcS, "s"), "spark.spill_bytes" -> (t.spillBytes.toDouble, "B"),
        "spark.shuffle_read_bytes" -> (t.shuffleReadBytes.toDouble, "B"),
        "spark.peak_task_memory_bytes" -> (t.peakTaskMemoryBytes.toDouble, "B"),
        "trace.job_s" -> (plain.seconds, "s"),
        "trace.overhead_s" -> (traced.seconds - plain.seconds, "s"))
        .foreach { case (k, v) => metrics(k) = v }
      metrics("spark.stage_floor_s") = (Layers.stageFloor(spark, a.cores), "s")
      val profile = Layers.profile(spark, in, small, a.work, counters, tr)
      profile.metrics.foreach { case (k, v) => metrics(k) = v }
      laws ++= profile.checks
      Files.writeString(new File(a.work, s"trace_${a.workload}_${a.seed}.json").toPath, tr.toJson)
    }
    done.filterNot(_.ok).foreach(r => log(s"repetition failed: ${r.detail}"))

    val (found, checkS) = Timing.timed(Checks.run(spark, a, in))
    val checks = laws.toSeq ++ found
    log(f"checks $checkS%.2f s")
    val rec = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "turns" -> rows, "repetitions" -> done.size,
      "attempted" -> (done.size + checks.size),
      "warmup_job_s" -> warm.map(_.seconds),
      "job_s" -> done.drop(warm.size).map(_.seconds),
      "failed" -> (done.count(!_.ok) + checks.count(!_._2)),
      "checks" -> checks.map { case (n, ok, d) => ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "export_dir" -> Checks.exportDir(a.work).getPath)
    Files.writeString(a.out.toPath, rec)
    log("result written")
  }

  /** One repetition of the workload's timed job, from a cold cache. The
    * time covers building the plan too: under the default skew policy
    * `Rolling.rollingAgg` runs its detection job when it is called. Each
    * repetition checks its own output with laws observed in the same job.
    */
  def rep(spark: SparkSession, a: Args, in: Input, counters: Counters, tr: Tracer): Rep = {
    Rolling.clearDetectionCache(spark)
    spark.catalog.clearCache()
    a.workload match {
      case "backfill" =>
        val obs = Observation()
        val ((_, s), t) = counters.measure(spark)(Timing.timed {
          val out = Flagship.job(in.turns, tr).observe(obs, sum("n_turns").as("turns"))
          tr("noop sink")(Timing.noop(out))
        })
        val got = obs.get("turns")
        Rep(s, t, got == in.rows, s"session n_turns sum to $got, input has ${in.rows} turns")
      case "pit_join" =>
        val obs = Observation()
        val ((_, s), t) = counters.measure(spark)(Timing.timed {
          val out = PitJoin.join(in.turns, "union", tr).observe(obs, count(lit(1)).as("rows"),
            count_if(PitJoin.violation).as("bad"))
          tr("noop sink")(Timing.noop(out))
        })
        val (n, bad) = (obs.get("rows"), obs.get("bad"))
        Rep(s, t, n == in.spineRows && bad == 0L,
          s"$n rows for ${in.spineRows} spine rows, $bad rows break leakage or tolerance")
      case "resume" =>
        val r = ResumeJob.round(spark, in.turns, in.rows, new File(a.work, "resume_out"), counters, tr)
        Rep(r.fullS, r.full, r.lawsOk, r.detail)
    }
  }
}

/** Generated inputs, keyed by seed and size and verified before each use. */
object Inputs {
  private val keep = 4

  /** Prepares the input three times (the first may generate it) and returns
    * the median preparation time with the directory and its row count.
    */
  def prepare(spark: SparkSession, work: File, seed: Long, convs: Long): (File, Long, Double) = {
    val dir = new File(work, s"data/turns_s${seed}_c$convs")
    val runs = (1 to 3).map(_ => Timing.timed(ensure(spark, dir, seed, convs)))
    dir.setLastModified(System.currentTimeMillis())
    prune(dir.getParentFile)
    (dir, runs.head._1, Timing.median(runs.map(_._2)))
  }

  def small(spark: SparkSession, work: File, seed: Long): Main.Input = {
    val dir = new File(work, s"data/small_s$seed")
    val n = ensure(spark, dir, seed, 500L)
    dir.setLastModified(System.currentTimeMillis())
    val turns = spark.read.parquet(dir.getPath)
    Main.Input(turns, n, PitJoin.spine(turns).count())
  }

  private def cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Generates the table if it is absent, then checks the stored
    * fingerprint against one recomputed from the files.
    */
  private def ensure(spark: SparkSession, dir: File, seed: Long, convs: Long): Long = {
    val marker = new File(dir, "_FINGERPRINT")
    if (!marker.exists()) {
      graft.tjk.deleteRec(dir)
      Gen.transcripts(spark, convs, seed, Main.MedianLen, Main.HotFactor)
        .write.mode("overwrite").parquet(dir.getPath)
      val (n, h) = Timing.fingerprint(spark.read.parquet(dir.getPath), cols)
      Files.writeString(marker.toPath, s"$n $h")
    }
    val Array(n, h) = Files.readString(marker.toPath).trim.split(" ").map(_.toLong)
    val got = Timing.fingerprint(spark.read.parquet(dir.getPath), cols)
    require(got == ((n, h)), s"input $dir does not match its fingerprint: $got vs ($n, $h)")
    n
  }

  /** Keeps the most recently used inputs of each kind only. */
  private def prune(dataDir: File): Unit =
    Seq("turns_", "small_").foreach { kind =>
      Option(dataDir.listFiles()).toSeq.flatten.filter(_.getName.startsWith(kind))
        .sortBy(-_.lastModified()).drop(keep).foreach(graft.tjk.deleteRec)
    }
}
