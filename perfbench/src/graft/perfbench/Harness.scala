package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one run shares with its workload. `traced` marks the traced run;
  * spans are recorded while `tr.enabled`. `tiny` runs set up once. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val traced: Boolean, val tiny: Boolean = false) {
  val tr = new Tracer
  def dir(name: String): String = work.resolve(name).toString
  def span[T](layer: String, name: String)(body: => T): T = tr.span(layer, name)(body)
}

/** One operation's outcome: signal samples it processed, and per-layer
  * values it observed, which the untimed check may add to. */
final case class OpOut(samples: Long,
                       layer: scala.collection.mutable.Map[String, Double] =
                         scala.collection.mutable.Map.empty)

/** A workload: set-up (repeated and timed), untimed expectations, then
  * operations run in a closed loop by one caller. */
trait Workload {
  def name: String
  /** Name of the reported samples-per-second figure. */
  def throughput: String = "samples_per_s"
  def setup(c: Ctx, rep: Int): Unit
  def prepare(c: Ctx): Unit = ()
  /** Untimed per-operation input staging. */
  def stage(c: Ctx, k: Int): Unit = ()
  def op(c: Ctx, k: Int): OpOut
  /** Untimed warm-up: JIT, codegen and file caches. */
  def warmup(c: Ctx): Unit
  /** Per-operation upkeep outside the operation's clock, timed on its own
    * into `out.layer` (daily: the compaction). */
  def maintain(c: Ctx, k: Int, out: OpOut): Unit = ()
  /** Untimed output check of operation `k`; failures, empty = pass. */
  def check(c: Ctx, k: Int, out: OpOut): Seq[String]
  /** Untimed whole-run check, counted as one more operation. */
  def finish(c: Ctx): Seq[String] = Nil
  /** Traced run only: layer probes outside the operation loop. */
  def layers(c: Ctx): Map[String, Double] = Map.empty
}

final case class Sample(k: Int, wall: Double, out: OpOut, spark: Map[String, Double],
                        gapS: Double, heapBytes: Long)

final class RunResult(val setupS: Seq[Double], val samples: Seq[Sample],
                      val untraced: Seq[Double], val attempted: Int,
                      val failed: Int, val layers: Map[String, Double],
                      val spans: Seq[Span])

object Harness {

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap still live after a full collection, in bytes. */
  def retainedHeap(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  /** Run workload `w` for `seconds` of operations. The traced run
    * alternates: even operations run with spans and listeners on, odd ones
    * with both off (the tracing-overhead baseline), and it runs at least
    * one of each; the layer probes follow. */
  def run(w: Workload, c: Ctx, seconds: Double, setupReps: Int): RunResult = {
    val setupS = (0 until setupReps).map { r =>
      val t = time(w.setup(c, r))._2
      println(f"[setup] ${w.name} rep=$r ${t}%.3f s")
      t
    }
    w.prepare(c)
    var attempted = 0
    var failed = 0
    val samples = ArrayBuffer.empty[Sample]
    val untraced = ArrayBuffer.empty[Double]
    lazy val listeners = new Probe(c.spark, c.tr)

    def once(k: Int, traced: Boolean): Unit = {
      attempted += 1
      c.tr.enabled = traced
      val probe = if (traced) Some(listeners.install()) else None
      try {
        w.stage(c, k)
        val before = probe.map { p => p.takeJobIntervals(); p.snapshot() }
        val t0 = System.nanoTime()
        val out = c.tr.op(k, w.name)(w.op(c, k))
        val t1 = System.nanoTime()
        val heapBytes = retainedHeap()
        val wall = (t1 - t0) / 1e9
        val (sparkDelta, gap) = probe match {
          case Some(p) =>
            val after = p.snapshot()
            val jobs = p.takeJobIntervals()
            (after.map { case (key, v) => key -> (v - before.get.getOrElse(key, 0.0)) },
              (t1 - t0 - SelfTime.covered(jobs, t0, t1)) / 1e9)
          case None => (Map.empty[String, Double], 0.0)
        }
        w.maintain(c, k, out)
        val errs = w.check(c, k, out)
        if (errs.nonEmpty) {
          failed += 1
          errs.foreach(e => println(s"[op] ${w.name} k=$k FAILED: $e"))
        } else {
          val steps = out.layer.toSeq.filter(_._1.startsWith("step.")).sortBy(_._1)
            .map { case (s, v) => f" ${s.stripPrefix("step.")}=$v%.3f" }.mkString
          println(f"[op] ${w.name} k=$k ${wall}%.3f s samples=${out.samples}$steps" +
            (if (c.traced) s" traced=$traced" else ""))
          if (traced || !c.traced) samples += Sample(k, wall, out, sparkDelta, gap, heapBytes)
          else untraced += wall
        }
      } catch {
        case e: Exception =>
          failed += 1
          println(s"[op] ${w.name} k=$k FAILED: ${e.getClass.getName}: ${e.getMessage}")
      } finally {
        probe.foreach(_.remove())
        c.tr.enabled = false
      }
    }

    try { w.warmup(c); println(s"[op] ${w.name} warm-up done") } catch {
      case e: Exception =>
        attempted += 1; failed += 1
        println(s"[op] ${w.name} warm-up FAILED: ${e.getClass.getName}: ${e.getMessage}")
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    do { once(k, c.traced && k % 2 == 0); k += 1 }
    while (System.nanoTime() < deadline || (c.traced && k < 2))

    attempted += 1
    val fin = try w.finish(c) catch {
      case e: Exception => Seq(s"${e.getClass.getName}: ${e.getMessage}")
    }
    if (fin.nonEmpty) { failed += 1; fin.foreach(e => println(s"[finish] ${w.name} FAILED: $e")) }
    else println(s"[finish] ${w.name} whole-run checks passed")

    c.tr.enabled = c.traced
    val layers = if (c.traced) w.layers(c) else Map.empty[String, Double]
    new RunResult(setupS, samples.toSeq, untraced.toSeq, attempted, failed, layers, c.tr.all)
  }
}
