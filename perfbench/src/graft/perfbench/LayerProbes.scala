package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.codec.{DeltaOfDelta, Gorilla}
import graft.engine.TokenRollup
import graft.functions.{FeatureCatalog, FeatureParams, TokenPartialsExpr}
import graft.table.TableIO

/** Table state read from the table directory itself. */
object TableStats {

  private def files(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toVector
      finally s.close()
    }
  }

  /** Snapshot lines ever appended to the manifest (tombstones excluded). */
  def commitLines(io: TableIO): Long = {
    val f = Paths.get(io.root, "meta", "snapshots.jsonl")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).asScala.count(_.startsWith("{\"id\":")).toLong
  }

  /** Per-operation table counters; `commits` is the manifest lines the
    * operation appended. */
  def of(c: Ctx, io: TableIO, commits: Long): Map[String, Double] = {
    val meta = Seq("snapshots.jsonl", "checkpoint.jsonl").map(Paths.get(io.root, "meta", _))
      .filter(Files.exists(_)).map(Files.size).sum
    val (_, doneS) = Harness.time(c.span("table", "doneBuckets")(io.doneBuckets("1m")))
    Map("table.commits" -> commits.toDouble,
      "table.live_files" -> files(Paths.get(io.root, "data")).size.toDouble,
      "table.manifest_bytes" -> meta.toDouble,
      "table.done_buckets_s" -> doneS)
  }

  /** Bytes of every live file of the feature and chunk tiers over the
    * feature points they hold. */
  def storedBytesPerPoint(c: Ctx, io: TableIO, tiers: Seq[String]): Map[String, Double] = {
    val live = io.snapshots().filter(_.dir.nonEmpty)
    val bytes = live.filter(s => tiers.exists(t => s.tier == t || s.tier == s"$t-chunks"))
      .flatMap(s => files(Paths.get(io.root, s.dir))).map(Files.size).sum
    val points = tiers.flatMap(t => io.read(c.spark, t)).map(_.count()).sum
    Map("table.stored_bytes_per_point" -> bytes.toDouble / math.max(points, 1L))
  }
}

/** Layer probes of the traced run: timed calls into one layer's public
  * functions on the workload's own data. */
object LayerProbes {

  /** Nanoseconds per unit of `body`, which processes `units` units per
    * call, repeated until at least `minS` seconds have been measured. */
  def nsPerUnit(units: Long, minS: Double = 0.1)(body: => Unit): Double = {
    body // warm
    var reps = 0L
    val t0 = System.nanoTime()
    var t = t0
    while (reps < 3 || t - t0 < minS * 1e9) { body; reps += 1; t = System.nanoTime() }
    (t - t0).toDouble / (reps * math.max(units, 1L))
  }

  def force(df: DataFrame): Long = Checks.checksum(df)._2

  /** Gorilla and delta-of-delta codecs on the committed tier's own series:
    * each (source, day) chunk's feature and bucket-time series. */
  def codec(c: Ctx, io: TableIO, tier: String): Map[String, Double] = {
    val feats = Seq("mean", "variance", "line_length", "hjorth_mobility", "hjorth_complexity")
    val rows = io.read(c.spark, tier).get
      .groupBy(col("source"), col("commit_bucket"))
      .agg(sort_array(collect_list(struct((unix_timestamp(col("bucket")).as("t") +: feats.map(col)): _*))).as("p"))
      .select(col("p.t") +: feats.map(f => col(s"p.$f")): _*).collect()
    val ts = rows.map(_.getSeq[Long](0).toArray)
    val vs = rows.flatMap(r => feats.indices.map(i => r.getSeq[Double](i + 1).toArray))
    val nV = vs.map(_.length.toLong).sum
    val nT = ts.map(_.length.toLong).sum
    val gEnc = vs.map(Gorilla.encode)
    val dEnc = ts.map(DeltaOfDelta.encode)
    c.span("codec", "probe") {
      Map(
        "codec.gorilla_encode_ns_per_value" -> nsPerUnit(nV)(vs.foreach(Gorilla.encode)),
        "codec.gorilla_decode_ns_per_value" -> nsPerUnit(nV)(gEnc.foreach(Gorilla.decode)),
        "codec.dod_encode_ns_per_value" -> nsPerUnit(nT)(ts.foreach(DeltaOfDelta.encode)),
        "codec.dod_decode_ns_per_value" -> nsPerUnit(nT)(dEnc.foreach(DeltaOfDelta.decode)),
        "codec.bytes_per_value" -> gEnc.map(_.length.toLong).sum.toDouble / math.max(nV, 1L),
        "codec.dod_bytes_per_value" -> dEnc.map(_.length.toLong).sum.toDouble / math.max(nT, 1L))
    }
  }

  /** `TokenPartialsExpr.kernelRow` on up to 256 corpus rows. */
  def tokenPartials(c: Ctx, tokens: DataFrame, scale: Double): Map[String, Double] = {
    val rows = tokens.select("tokens").limit(256).collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Int](0).toArray))
    val expr = TokenPartialsExpr(BoundReference(0, ArrayType(IntegerType, containsNull = false),
      nullable = false), scale)
    val n = rows.map(_.numElements().toLong).sum
    c.span("functions", "kernelRow") {
      Map("functions.token_partials_ns_per_sample" -> nsPerUnit(n)(rows.foreach(expr.kernelRow)))
    }
  }

  /** The cascade's public steps forced one at a time, in `RollupJob`'s
    * order: row states, 1m merge, 1h and 1d cascades, finalize. */
  def engine(c: Ctx, tokens: DataFrame, scale: Double): Map[String, Double] = {
    def timed[T](layer: String, name: String)(body: => T): (T, Double) =
      Harness.time(c.span(layer, name)(body))
    val states = TokenRollup.rowStates(tokens, scale).persist()
    val (_, rowS) = timed("functions", "rowStates")(force(states))
    val m1 = TokenRollup.mergeToBuckets(states, "1 minute", Seq("event_time", "doc_id")).persist()
    val (_, m1S) = timed("engine", "mergeToBuckets 1m")(force(m1))
    val h1 = TokenRollup.cascade(m1, "1 hour").persist()
    val (_, h1S) = timed("engine", "cascade 1h")(force(h1))
    val (_, d1S) = timed("engine", "cascade 1d")(force(TokenRollup.cascade(h1, "1 day")))
    val (_, finS) = timed("engine", "finalizeFeatures")(force(TokenRollup.finalizeFeatures(m1)))
    Seq(states, m1, h1).foreach(_.unpersist(blocking = true))
    Map("functions.row_states_s" -> rowS, "engine.merge_1m_s" -> m1S,
      "engine.cascade_1h_s" -> h1S, "engine.cascade_1d_s" -> d1S, "engine.finalize_s" -> finS)
  }

  /** Per-feature kernel cost: the catalog's dispatch into
    * `graft.core.Features` on dequantized corpus epochs, each feature on
    * the epoch prefix it is extracted from. */
  def core(c: Ctx, epochs: Seq[Array[Double]], p: FeatureParams,
           features: Seq[(String, Int)]): Map[String, Double] =
    c.span("core", "Features") {
      features.map { case (alias, len) =>
        val k = FeatureCatalog(alias)
        val xs = epochs.map(e => if (e.length > len) e.take(len) else e)
        s"core.${alias}_ns_per_sample" ->
          nsPerUnit(xs.map(_.length.toLong).sum, 0.05)(xs.foreach(k.eval(_, p)))
      }.toMap
    }
}
