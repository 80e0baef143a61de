package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{RollupJob, TokenRollup}
import graft.streaming.StreamingRollup
import graft.table.TableIO

/** `daily`: set-up commits a history of days, one `RollupJob.run` per
  * day; each operation is one new day with one hot (source, hour): live
  * tier, commit and dashboard reads. Every 7th day, from the first
  * operation's on, a compaction of the 1h tier follows outside the
  * operation's clock, so every timed operation does the same steps. */
final class Daily(tiny: Boolean) extends Workload {
  val name = "daily"
  override val throughput = "day_tokens_per_s"
  val historyDays = 3
  val day: Gen.Corpus =
    if (tiny) Gen.Corpus(tokensPerDay = 110000L, firstDay = 0, days = 1, hot = Some(Gen.Hot(0.3)))
    else Gen.Corpus(tokensPerDay = 2280000L, firstDay = 0, days = 1, hot = Some(Gen.Hot(0.25)))
  /** Streaming boundary-tuple cap: below the hot window's row count
    * (~share x docs), far above any other window's, so exactly the hot
    * window overflows into the batch fallback every day. */
  val maxSegs: Int = if (tiny) 16 else 64
  val retention1m: Long = 2 * Gen.DaySeconds
  val compactEvery = 7
  val trailingDays = 7
  val scale: Double = RollupJob.Conf("").scale
  val tierNames: Seq[String] = RollupJob.Conf("").tiers.map(_._1)

  private var root: String = _
  private val inputs = ArrayBuffer.empty[String]
  private var commitsBefore = 0L
  private var opCommits = 0L
  private var dayTokens = 0L

  private def conf(jobId: String) =
    RollupJob.Conf(tableRoot = root, jobId = jobId, retention = Map("1m" -> retention1m))
  private def dayIndex(k: Int) = historyDays + k
  private def dayStart(k: Int) = Gen.Day0 + dayIndex(k) * Gen.DaySeconds
  private def dayDir(k: Int) = inputs(dayIndex(k))

  /** Writes day `d`'s documents under the work dir; returns the path. */
  private def genDay(c: Ctx, d: Int, tag: String): String = {
    val dir = c.dir(s"daily-$tag-day-$d")
    Gen.corpus(c.spark, c.seed, day.copy(firstDay = d)).write.mode("overwrite").parquet(dir)
    dir
  }

  /** A new table holding the history, committed one day per run, so the
    * manifest has grown and checkpointed before the first operation. */
  def setup(c: Ctx, rep: Int): Unit = {
    Session.registerPlans(c.spark)
    val old = Option(root).toSeq ++ inputs
    root = c.dir(s"daily-table-$rep")
    inputs.clear()
    (0 until historyDays).foreach { d =>
      val dir = genDay(c, d, s"history-$rep")
      RollupJob.run(c.spark, c.spark.read.parquet(dir), conf(s"history-$d"))
      inputs += dir
    }
    old.foreach(p => Harness.deleteTree(Paths.get(p)))
  }

  override def stage(c: Ctx, k: Int): Unit = {
    val dir = genDay(c, dayIndex(k), "op")
    inputs += dir
    dayTokens = c.spark.read.parquet(dir).agg(sum("n_tok")).head().getLong(0)
    if (c.tr.enabled) commitsBefore = TableStats.commitLines(new TableIO(root))
  }

  // per operation, for the untimed check: the live tier's rows (diff tier,
  // orderless tier) and the dashboard reads' row counts
  private final case class LiveRows(diff: DataFrame, orderless: DataFrame, sinks: Seq[String])
  private val live = scala.collection.mutable.Map.empty[Int, LiveRows]
  private val reads = scala.collection.mutable.Map.empty[Int, Seq[Long]]

  /** Live tier over a staged day: the orderless and the stateful diff
    * streams started together, then the hot-window batch fallback. */
  private def liveTier(c: Ctx, src: String, tag: String, out: OpOut): LiveRows = {
    val spark = c.spark
    val (qa, qd) = (s"perfbench_live_$tag", s"perfbench_diff_$tag")
    val a = c.span("streaming", "startOnce")(
      StreamingRollup.startOnce(spark, src, "1 hour", "1 minute", scale, qa))
    val d = c.span("streaming", "startOnceDiff")(
      StreamingRollup.startOnceDiff(spark, src, "1 hour", "1 minute", scale, qd, maxSegs))
    try c.span("streaming", "await") { a.awaitTermination(); d.awaitTermination() }
    finally Seq(a, d).foreach(q => if (q.isActive) q.stop())
    val diff = c.span("streaming", "diffWithBatchFallback")(
      StreamingRollup.diffWithBatchFallback(spark, StreamingRollup.collapseDiff(spark, qd),
        src, "1 hour", scale))
    val orderless = spark.table(qa)
    val (dRows, oRows) = c.span("streaming", "collect")((diff.collect(), orderless.collect()))
    if (c.tr.enabled) out.layer ++= streamingStats(Seq(a, d))
    LiveRows(spark.createDataFrame(dRows.toList.asJava, diff.schema),
      spark.createDataFrame(oRows.toList.asJava, orderless.schema), Seq(qa, qd))
  }

  /** Windows the diff stream sent to the batch fallback; drops the sinks. */
  private def overflowWindows(c: Ctx, live: LiveRows): Long = {
    val n = c.spark.table(live.sinks(1)).where(col("overflow"))
      .select("source", "bucketS").distinct().count()
    live.sinks.foreach(c.spark.catalog.dropTempView)
    n
  }

  /** Dashboard reads: trailing-week 1h range, 1d chunk points, today's 1m;
    * returns each read's row count. */
  private def dashboard(c: Ctx, io: TableIO, today: Long, out: OpOut): Seq[Long] = {
    val spark = c.spark
    val from = today - (trailingDays - 1) * Gen.DaySeconds
    val (r1h, planS) = Harness.time(c.span("table", "readRange 1h")(
      io.readRange(spark, "1h", from, today + Gen.DaySeconds).get))
    val (n1h, execS) = Harness.time(c.span("table", "readRange 1h exec")(Checks.checksum(r1h)._2))
    out.layer("table.read_range_plan_s") = planS
    out.layer("table.read_range_exec_s") = execS
    val nChunk = c.span("table", "readChunkPoints 1d")(
      Checks.checksum(io.readChunkPoints(spark, "1d").get)._2)
    val n1m = c.span("table", "read 1m today")(
      Checks.checksum(io.read(spark, "1m").get.where(col("commit_bucket") === today))._2)
    Seq(n1h, nChunk, n1m)
  }

  /** Warm-up without a commit: the live tier over a fresh day's documents
    * and the dashboard reads. Set-up already ran the commit path. */
  override def warmup(c: Ctx): Unit = {
    val dir = c.dir("daily-warmup")
    Gen.corpus(c.spark, c.seed ^ 1L, day.copy(firstDay = historyDays - 1)).write.mode("overwrite").parquet(dir)
    val out = OpOut(0L)
    overflowWindows(c, liveTier(c, dir, "warmup", out))
    dashboard(c, new TableIO(root), dayStart(-1), out)
    Harness.deleteTree(Paths.get(dir))
  }

  def op(c: Ctx, k: Int): OpOut = {
    val out = OpOut(dayTokens)
    def step[T](name: String)(body: => T): T = {
      val (r, s) = Harness.time(c.span("bench", name)(body))
      out.layer(s"step.${name}_s") = s
      r
    }
    val src = dayDir(k)
    live(k) = step("live_tier")(liveTier(c, src, s"${dayIndex(k)}_${System.nanoTime()}", out))
    step("day_commit") {
      c.span("engine", "RollupJob.run")(
        RollupJob.run(c.spark, c.spark.read.parquet(src), conf(s"day-${dayIndex(k)}")))
    }
    val io = new TableIO(root)
    reads(k) = step("dashboard_read")(dashboard(c, io, dayStart(k), out))
    out
  }

  override def maintain(c: Ctx, k: Int, out: OpOut): Unit = {
    val io = new TableIO(root)
    if (c.tr.enabled) opCommits = TableStats.commitLines(io) - commitsBefore
    if (k % compactEvery == 0)
      out.layer("table.compact_s") = Harness.time(io.compact(c.spark, "1h"))._2
  }

  private def streamingStats(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Map[String, Double] = {
    val progress = qs.flatMap(_.recentProgress.toSeq)
    val last = qs.flatMap(_.lastProgress match { case null => None; case p => Some(p) })
    Map("streaming.micro_batches" -> progress.size.toDouble,
      "streaming.trigger_ms" -> progress.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum,
      "streaming.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "streaming.state_bytes" -> last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble)
  }

  def check(c: Ctx, k: Int, out: OpOut): Seq[String] = {
    val spark = c.spark
    val io = new TableIO(root)
    val (today, until) = (dayStart(k), dayStart(k) + Gen.DaySeconds)
    if (c.tr.enabled) out.layer ++= TableStats.of(c, io, opCommits)
    out.layer ++= TableStats.storedBytesPerPoint(c, io, tierNames)
    val rows = live.remove(k).get
    val (diff, orderless) = (rows.diff, rows.orderless)
    val overflow = overflowWindows(c, rows)
    out.layer("streaming.overflow_windows") = overflow.toDouble
    val batch = io.readRange(spark, "1h", today, until).get
    val state = TokenRollup.StateFields
    val batchStates = batch.select(Seq(col("source"), unix_timestamp(col("bucket")).as("bucketS")) ++
      state.map(f => col(s"P.$f").as(f)) ++ Seq(col("rows_in"), col("tokens_in")): _*)
    val lines = io.lineageLines()
    val from = today - (trailingDays - 1) * Gen.DaySeconds
    val Seq(n1h, nChunk, n1m) = reads.remove(k).get
    Checks.sameRows("live diff tier vs committed 1h", diff, batchStates, Seq("source", "bucketS"),
      Seq("n", "zc", "fSgn", "lSgn", "rows_in", "tokens_in"),
      state.filterNot(Set("n", "zc", "fSgn", "lSgn"))) ++
      Checks.sameRows("live orderless tier vs committed 1h",
        orderless.select(col("source"), col("bucket"), col("n").as("n_samples"), col("rows_in"),
            col("mean"), col("variance"), col("rms"), col("ptp_amp")),
        batch, Seq("source", "bucket"), Seq("n_samples", "rows_in"),
        Seq("mean", "variance", "rms", "ptp_amp")) ++
      Checks.equal("hot windows sent to the batch fallback", overflow >= 1, true) ++
      Checks.equal("1h rows read vs lineage points",
        n1h, Checks.lineageSum(lines, "1h", "rowsOut", b => b >= from && b < until)) ++
      Checks.equal("1d chunk points vs lineage points",
        nChunk, Checks.lineageSum(lines, "1d", "rowsOut")) ++
      Checks.equal("today's 1m rows vs lineage points",
        n1m, Checks.lineageSum(lines, "1m", "rowsOut", _ == today))
  }

  /** The incrementally built table equals one backfill over the days it
    * still serves: 1h and 1d over every day, 1m from the retention cutoff. */
  override def finish(c: Ctx): Seq[String] = {
    val io = new TableIO(root)
    val all = c.spark.read.parquet(inputs.toSeq: _*)
    val states = TokenRollup.rowStates(all, scale)
    val cutoff = io.retentionCutoff("1m").getOrElse(Long.MinValue)
    RollupJob.Conf("").tiers.flatMap { case (tier, win) =>
      val exp = TokenRollup.finalizeFeatures(
        TokenRollup.mergeToBuckets(states, win, Seq("event_time", "doc_id")))
        .where(unix_timestamp(col("bucket")) >= (if (tier == "1m") cutoff else Long.MinValue))
      Checks.sameRows(s"incremental $tier vs single backfill", io.read(c.spark, tier).get, exp,
        Seq("source", "bucket"), TierCols.Exact, TierCols.Approx)
    }
  }

  override def layers(c: Ctx): Map[String, Double] = {
    val io = new TableIO(root)
    val lastDay = c.spark.read.parquet(inputs.last)
    LayerProbes.codec(c, io, "1m") ++ LayerProbes.tokenPartials(c, lastDay, scale) ++
      LayerProbes.engine(c, lastDay, scale)
  }
}
