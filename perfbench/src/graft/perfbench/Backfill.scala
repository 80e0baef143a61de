package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{RollupJob, TokenRollup}
import graft.table.TableIO

/** `backfill`: one fresh-table `RollupJob.run` (1m -> 1h -> 1d, chunks,
  * lineage) per operation over a fixed multi-day corpus. */
final class Backfill(tiny: Boolean, wrongExpected: Boolean = false) extends Workload {
  val name = "backfill"
  override val throughput = "backfill_tokens_per_s"
  val corpus: Gen.Corpus =
    if (tiny) Gen.Corpus(tokensPerDay = 90000L, firstDay = 0, days = 3)
    else Gen.Corpus(tokensPerDay = 3000000L, firstDay = 0, days = 3)
  val scale: Double = RollupJob.Conf("").scale
  val tiers: Seq[(String, String)] = RollupJob.Conf("").tiers

  private var input: String = _
  private var tokens: DataFrame = _
  private var inputTokens = 0L
  private var expected: Map[String, DataFrame] = Map.empty
  private def root(k: Int) = s"${input}-table-$k"

  def setup(c: Ctx, rep: Int): Unit = {
    Session.registerPlans(c.spark)
    val dir = c.dir(s"backfill-input-$rep")
    Gen.corpus(c.spark, c.seed, corpus).write.mode("overwrite").parquet(dir)
    if (input != null) Harness.deleteTree(Paths.get(input))
    input = dir
  }

  override def prepare(c: Ctx): Unit = {
    tokens = c.spark.read.parquet(input)
    inputTokens = tokens.where(col("n_tok") >= 2).agg(sum("n_tok")).head().getLong(0)
    // the expected tiers, each merged straight from the row states at its
    // own window (no cascade), computed once: every operation rolls up
    // the same corpus
    val states = TokenRollup.rowStates(tokens, scale)
    expected = tiers.map { case (tier, win) =>
      tier -> TokenRollup.finalizeFeatures(
        TokenRollup.mergeToBuckets(states, win, Seq("event_time", "doc_id"))).persist()
    }.toMap
    expected.values.foreach(_.count())
  }

  /** Warm-up on the corpus's first day only, into a scratch table. */
  override def warmup(c: Ctx): Unit = {
    val scratch = s"$input-warmup"
    RollupJob.run(c.spark, tokens.where(col("event_time") < new java.sql.Timestamp(
      (Gen.Day0 + Gen.DaySeconds) * 1000L)), RollupJob.Conf(tableRoot = scratch, jobId = "warmup"))
    Harness.deleteTree(Paths.get(scratch))
  }

  def op(c: Ctx, k: Int): OpOut = {
    c.span("engine", "RollupJob.run") {
      RollupJob.run(c.spark, tokens, RollupJob.Conf(tableRoot = root(k), jobId = s"backfill-$k"))
    }
    OpOut(inputTokens)
  }

  def check(c: Ctx, k: Int, out: OpOut): Seq[String] = {
    val io = new TableIO(root(k))
    if (c.tr.enabled) out.layer ++= TableStats.of(c, io, 0L)
    out.layer ++= TableStats.storedBytesPerPoint(c, io, tiers.map(_._1))
    val lines = io.lineageLines()
    val errs = tiers.flatMap { case (tier, _) =>
      io.read(c.spark, tier) match {
        case None => Seq(s"tier $tier: nothing committed")
        case Some(got) =>
          Checks.sameRows(s"tier $tier", got, expected(tier), Seq("source", "bucket"),
            TierCols.Exact, TierCols.Approx) ++
            Checks.equal(s"tier $tier lineage tokens", Checks.lineageSum(lines, tier, "tokensIn"),
              inputTokens + (if (wrongExpected) 1 else 0))
      }
    }
    Harness.deleteTree(Paths.get(root(k)))
    errs
  }

  override def layers(c: Ctx): Map[String, Double] = {
    val probeTable = c.dir("backfill-probe-table")
    RollupJob.run(c.spark, tokens, RollupJob.Conf(tableRoot = probeTable, jobId = "probe"))
    val io = new TableIO(probeTable)
    val out = LayerProbes.codec(c, io, "1m") ++ LayerProbes.tokenPartials(c, tokens, scale) ++
      LayerProbes.engine(c, tokens, scale)
    Harness.deleteTree(Paths.get(probeTable))
    out
  }
}

/** Finalized tier columns compared by the checks. */
object TierCols {
  val Exact: Seq[String] = Seq("n_samples", "rows_in", "tokens_in")
  val Approx: Seq[String] = Seq("mean", "variance", "std", "rms", "ptp_amp",
    "skewness", "kurtosis", "line_length", "hjorth_mobility",
    "hjorth_complexity", "zero_crossings")
}
