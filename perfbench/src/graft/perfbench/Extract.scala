package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.FeatureEngine
import graft.functions.{feature, FeatureParams}
import graft.gen.TokenGen

/** `extract`: `FeatureEngine.extract` over a corpus of fixed-length
  * epochs, forced by an order-independent checksum of every output
  * column. No table I/O and no tier shuffle. */
final class Extract(tiny: Boolean, wrongExpected: Boolean = false) extends Workload {
  val name = "extract"
  override val throughput = "extract_samples_per_s"
  val epochs: Gen.Epochs = if (tiny) Gen.Epochs(n = 64, len = 512) else Gen.Epochs(n = 1200, len = 512)
  val params: FeatureParams = FeatureParams(sfreq = Gen.Sfreq, scale = 1.0 / TokenGen.Scale,
    epochLen = epochs.len)

  /** One feature of every kernel family the engine ships. */
  val selected: Seq[String] = Seq("mean", "variance", "std", "skewness", "kurtosis", "rms",
    "ptp_amp", "quantile", "hjorth_mobility", "hjorth_complexity", "hjorth_mobility_spect",
    "hjorth_complexity_spect", "line_length", "zero_crossings", "higuchi_fd", "katz_fd",
    "spect_entropy", "spect_edge_freq", "spect_slope", "pow_freq_bands", "energy_freq_bands",
    "wavelet_coef_energy", "svd_entropy", "hurst_exp", "teager_kaiser_energy")
  /** App/samp entropy are O(n^2): extracted from each epoch's first
    * `entropyLen` samples, through the user-defined-feature surface, so
    * they stay a minor share of the run instead of swamping it. */
  val entropyLen = 128
  val capped: Seq[String] = Seq("app_entropy", "samp_entropy")
  private def userFuncs(p: FeatureParams): Seq[(String, Column => Column)] =
    capped.map(a => s"${a}_first$entropyLen" -> ((c: Column) => feature(a, slice(c, 1, entropyLen), p)))

  private var input: String = _
  private var corpus: DataFrame = _
  private var expected: Option[Long] = None
  private var last: (Long, Long) = (0L, 0L)

  def setup(c: Ctx, rep: Int): Unit = {
    Session.registerPlans(c.spark)
    val dir = c.dir(s"extract-input-$rep")
    Gen.epochs(c.spark, c.seed, epochs).select("doc_id", "tokens").write.mode("overwrite").parquet(dir)
    if (input != null) Harness.deleteTree(Paths.get(input))
    input = dir
  }

  /** The corpus held in memory in even partitions, two per core: the
    * operations time the kernels, not file reads, and no core idles
    * behind a last partition (the files alone read as 5 partitions on
    * 4 cores). */
  override def prepare(c: Ctx): Unit = {
    corpus = c.spark.read.parquet(input)
      .repartition(2 * c.spark.sparkContext.defaultParallelism).persist()
    corpus.count()
  }

  private def extract(df: DataFrame): DataFrame =
    FeatureEngine.extract(df, "tokens", selected, base = params, userFuncs = userFuncs(params))

  /** Six untimed extractions: with fewer, the JIT was still speeding the
    * kernels up through the timed operations. Their checksum is the
    * expected value of every operation. */
  override def warmup(c: Ctx): Unit = {
    val sums = (1 to 6).map(_ => Checks.checksum(extract(corpus)))
    require(sums.distinct.size == 1, s"warm-up checksums differ: ${sums.mkString(", ")}")
    expected = Some(sums.head._1)
  }

  def op(c: Ctx, k: Int): OpOut = {
    val out = c.span("functions", "FeatureEngine.extract")(extract(corpus))
    last = c.span("functions", "force checksum")(Checks.checksum(out))
    OpOut(last._2 * epochs.len)
  }

  def check(c: Ctx, k: Int, out: OpOut): Seq[String] = {
    val (sum, rows) = last
    // every operation extracts the same corpus as the warm-up
    val exp = expected.get + (if (wrongExpected) 1L else 0L)
    Checks.equal("rows extracted", rows, epochs.n.toLong) ++
      Checks.equal("output checksum", sum, exp) ++ Oracle.check(c)
  }

  /** Kernel CPU seconds one operation needs by the core probe:
    * ns/sample times the samples each feature reads. */
  def kernelCpuS(m: Map[String, Double]): Double =
    (selected.map(_ -> epochs.len) ++ capped.map(_ -> entropyLen)).map { case (f, len) =>
      m.getOrElse(s"core.${f}_ns_per_sample", 0.0) * len * epochs.n / 1e9
    }.sum

  override def layers(c: Ctx): Map[String, Double] = {
    val sample = corpus.limit(32).collect().map(r => r.getSeq[Int](1).map(_ * params.scale).toArray).toSeq
    val core = LayerProbes.core(c, sample, params,
      selected.map(_ -> epochs.len) ++ capped.map(_ -> entropyLen))
    // the same extraction, interpreted (no whole-stage codegen, no
    // generated projections) against codegen
    val conf = c.spark.conf
    def wall(): Double = Harness.time(Checks.checksum(extract(corpus)))._2
    val on = c.span("functions", "extract codegen")(wall())
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off = try c.span("functions", "extract interpreted")(wall()) finally {
      conf.set("spark.sql.codegen.wholeStage", "true")
      conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    core + ("functions.interpreted_over_codegen" -> off / on)
  }
}

/** Reference oracle constants (mne-features test_univariate.py) on the
  * `TokenGen.fixtures` rows, extracted through the same engine surface.
  * The sin20 zero-crossing oracle is left out: it counts crossings at the
  * 2.2e-16 threshold, and quantizing to 2^-24 turns its near-zero samples
  * into exact zeros, a different input. */
object Oracle {
  private val p = FeatureParams(sfreq = 512.0, scale = 1.0 / TokenGen.Scale)
  private val ln = math.log _
  /** (doc_id, output column, expected) */
  val constants: Seq[(String, String, Double)] = Seq(
    ("data1/ch0", "mean__ch0", -0.25),
    ("data1/ch1", "mean__ch0", 0.25),
    ("data1/ch0", "variance__ch0", 19.0 / 14),
    ("data1/ch0", "skewness__ch0", 42.0 / (19 * math.sqrt(19.0))),
    ("data1/ch0", "kurtosis__ch0", 1141.0 / 361),
    ("data1/ch1", "ptp_amp__ch0", 2.0),
    ("data1/ch0", "rms__ch0", math.sqrt(1.25)),
    ("data1/ch1", "quantile__ch0", 1.0),
    ("data1/ch0", "line_length__ch0", 10.0 / 7),
    ("data1/ch0", "zero_crossings__ch0", 4.0),
    ("zeros_tail/ch0", "zero_crossings__ch0", 1.0),
    ("data1/ch0", "hjorth_mobility__ch0", 6 * math.sqrt(26.0) / (math.sqrt(7.0) * math.sqrt(43.0))),
    ("data1/ch1", "hjorth_complexity__ch0", 5 * math.sqrt(103.0) / 48),
    ("data1/ch0", "katz_fd__ch0",
      math.log10(7) / (math.log10(2.0 / 10) + math.log10(7))),
    ("data1/ch0", "app_entropy__ch0", -ln(7) + ln(6)),
    ("samp1/ch0", "samp_entropy__ch0", ln(3.0)))

  def check(c: Ctx): Seq[String] = {
    val aliases = constants.map(_._2.stripSuffix("__ch0")).distinct
    val got = FeatureEngine.extract(TokenGen.fixtures(c.spark), "tokens", aliases, base = p)
      .collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    constants.flatMap { case (doc, column, v) =>
      val x = got(doc).getAs[Any](column) match {
        case s: scala.collection.Seq[_] => s.head.asInstanceOf[Double] // one-quantile vector
        case d => d.asInstanceOf[Double]
      }
      Checks.near(s"oracle $column on $doc", x, v)
    }
  }
}
