package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.{SplitMix64, TokenGen}

/** Seeded input generator. Every document is a pure function of
  * (seed, day, index), so the same seed yields byte-identical inputs no
  * matter how Spark partitions the generation, and another seed yields
  * different ones. Built on the engine's own `SplitMix64` stream and
  * `TokenGen.zipfLen` length draw, so corpora have the `TokenGen.bulk`
  * shape: 16 sources, zipf(1.2) lengths in [64, 4096], Gaussian tokens
  * quantized at 2^24.
  */
object Gen {

  val DaySeconds: Long = 86400L
  val Sources = 16
  val MinLen = 64
  val MaxLen = 4096
  /** Sampling rate of the extraction epochs, Hz. */
  val Sfreq = 256.0
  /** Epoch second of day 0 (2024-01-01T00:00:00Z, TokenGen's t0). */
  val Day0: Long = TokenGen.T0Micros / 1000000L

  /** One hot (source, hour) per day: `share` of the day's documents land
    * in that single window, so it outgrows the streaming `maxSegs` cap. */
  final case class Hot(share: Double)

  /** Token-table corpus over `days` consecutive days from `firstDay`
    * (days since day 0). Each day holds documents until it reaches
    * `tokensPerDay` tokens, so every seed gives days of one size and
    * throughput differs across seeds only by the engine's speed. */
  final case class Corpus(tokensPerDay: Long, firstDay: Int, days: Int,
                          hot: Option[Hot] = None)

  /** Fixed-length epochs for feature extraction, sampled at `Sfreq`. */
  final case class Epochs(n: Int, len: Int)

  private def rng(seed: Long, day: Int, i: Int): SplitMix64 =
    new SplitMix64(seed ^ (day.toLong * 0x632BE59BD9B4E019L) ^
      (i.toLong * 0x9E3779B97F4A7C15L))

  /** The day's hot (source, hour), drawn from the seed alone. */
  def hotWindow(seed: Long, day: Int): (String, Int) = {
    val r = rng(seed ^ 0x5DEECE66DL, day, -1)
    (s"s${r.nextInt(Sources)}", r.nextInt(24))
  }

  /** Document `i` of `day` up to its tokens: the generator state, source,
    * minute of the day and length. */
  private def head(seed: Long, c: Corpus, day: Int, i: Int): (SplitMix64, String, Int, Int) = {
    val r = rng(seed, day, i)
    val inHot = c.hot.exists(h => r.nextDouble() < h.share)
    val (src, minute) =
      if (inHot) {
        val (s, hour) = hotWindow(seed, day)
        (s, hour * 60 + r.nextInt(60))
      } else {
        // TokenGen.bulk's gap rule: every 7th minute stays empty
        val m = r.nextInt(24 * 60)
        (s"s${r.nextInt(Sources)}", if (m % 7 == 0) m + 1 else m)
      }
    (r, src, minute, TokenGen.zipfLen(r, MinLen, MaxLen))
  }

  /** Documents `day` needs to reach the corpus's tokens per day. */
  def docCount(seed: Long, c: Corpus, day: Int): Int = {
    var (i, tokens) = (0, 0L)
    while (tokens < c.tokensPerDay) { tokens += head(seed, c, day, i)._4; i += 1 }
    i
  }

  def doc(seed: Long, c: Corpus, day: Int, i: Int): TokenGen.Doc = {
    val (r, src, minute, n) = head(seed, c, day, i)
    val toks = new Array[Int](n)
    var k = 0
    while (k < n) { toks(k) = math.round(r.nextGaussian() * TokenGen.Scale).toInt; k += 1 }
    val sec = (Day0 + day.toLong * DaySeconds) + minute * 60L + r.nextInt(60)
    TokenGen.Doc(f"d$day%04d/$src/$i%06d", toks, n, src,
      new java.sql.Timestamp(sec * 1000L))
  }

  def docs(seed: Long, c: Corpus, day: Int): Iterator[TokenGen.Doc] =
    Iterator.range(0, docCount(seed, c, day)).map(doc(seed, c, day, _))

  /** The corpus as a DataFrame, generated in parallel on the executors. */
  def corpus(spark: SparkSession, seed: Long, c: Corpus): DataFrame = {
    import spark.implicits._
    val slices = math.max(spark.sparkContext.defaultParallelism, 1) * 2
    val ids = (c.firstDay until c.firstDay + c.days)
      .flatMap(d => (0 until docCount(seed, c, d)).map(i => (d, i)))
    spark.sparkContext.parallelize(ids, slices)
      .map { case (d, i) => doc(seed, c, d, i) }
      .toDF()
  }

  /** One epoch: a Gaussian floor plus an alpha-band (8-13 Hz) rhythm of
    * random frequency, phase and amplitude, quantized like the corpus. */
  def epoch(seed: Long, e: Epochs, i: Int): TokenGen.Doc = {
    val r = rng(seed ^ 0x2545F4914F6CDD1DL, 0, i)
    val f = 8.0 + 5.0 * r.nextDouble()
    val ph = 2 * math.Pi * r.nextDouble()
    val a = 0.5 + r.nextDouble()
    val toks = Array.tabulate(e.len) { k =>
      val x = a * math.sin(2 * math.Pi * f * k / Sfreq + ph) + r.nextGaussian()
      math.round(x * TokenGen.Scale).toInt
    }
    TokenGen.Doc(f"e$i%07d", toks, e.len, s"s${i % Sources}",
      new java.sql.Timestamp((Day0 + i.toLong * 2) * 1000L))
  }

  def epochs(spark: SparkSession, seed: Long, e: Epochs): DataFrame = {
    import spark.implicits._
    val slices = math.max(spark.sparkContext.defaultParallelism, 1) * 2
    spark.sparkContext.parallelize(0 until e.n, slices)
      .map(epoch(seed, e, _)).toDF()
  }

  /** SHA-256 over every field of every document, in generation order —
    * the generator's byte-identity fingerprint. */
  def fingerprint(ds: Iterator[TokenGen.Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    ds.foreach { d =>
      md.update(d.doc_id.getBytes("UTF-8")); md.update(d.source.getBytes("UTF-8"))
      long(d.event_time.getTime); long(d.n_tok.toLong)
      d.tokens.foreach(t => long(t.toLong))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
