package valbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.Sessions

/** Benchmark JVM:
  *
  * {{{
  * --workload W --seed N --data DIR --threads T --seconds S --trace 0|1
  *     --work DIR
  * }}}
  *
  * One fresh JVM on `local[T]` sessions: the seed's inputs are generated
  * into DIR (outside every metric), set-up (session creation and input
  * registration) runs [[SetUps]] times and the last session is kept, one
  * warm-up operation, then a closed loop of as many operations as take
  * about S seconds, then the output checks. It prints one line
  * `RESULT {json}` with the end-to-end metrics (trace 0) or the per-layer
  * metrics (trace 1).
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 5

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    run(a)
  }

  final case class Sample(seconds: Double, out: Try[Any])

  private def run(a: Map[String, String]): Unit = {
    val name = a("workload")
    val threads = a("threads").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val paths = Inputs.Paths(a("data"))

    val gen = Sessions.local(threads, "valbench-gen")
    val g0 = System.nanoTime()
    try Inputs.generate(gen, a("seed").toLong, a("data")) finally gen.stop()
    val genS = (System.nanoTime() - g0) / 1e9
    // set-up several times and keep the last session: one set-up is a
    // single reading of about a second on a box whose speed drifts
    val setups = (1 to SetUps).map { k =>
      val t0 = System.nanoTime()
      val s = Sessions.local(threads, s"valbench-$name")
      val w = Workloads(name, s, paths, a("work"))
      val t = (System.nanoTime() - t0) / 1e9
      if (k < SetUps) s.stop()
      (s, w, t)
    }
    val (spark, wl, _) = setups.last
    val setupS = median(setups.map(_._3))
    val w0 = System.nanoTime()
    val warmUp = Try(wl.op(Spans.Off, 0))
    println(f"[valbench] inputs generated in $genS%.3f s; setup_s $setupS%.3f " +
      s"(median of ${setups.map(x => f"${x._3}%.3f").mkString(" ")} s); " +
      f"warm-up ${(System.nanoTime() - w0) / 1e9}%.3f s")

    // Operations are counted, not timed: a run times as many operations as
    // take about `seconds` at the workload's nominal operation time. The JIT
    // keeps warming for several operations, so both sides of a comparison
    // must be timed at the same operations, not for the same seconds.
    def count(budget: Double): Int =
      math.max(1, math.ceil(budget / wl.nominalOpSeconds).toInt)
    var next = 1
    def one(tracer: Option[Tracer]): Sample = {
      val i = next
      next += 1
      val t0 = System.nanoTime()
      val out = Try(tracer match {
        case Some(t) => t.op(i, name)(wl.op(t, i))
        case None => wl.op(Spans.Off, i)
      })
      Sample((System.nanoTime() - t0) / 1e9, out)
    }

    val tracer = if (traced) Some(new Tracer(spark, threads)) else None
    // traced: untraced and traced operations alternate, starting and ending
    // untraced, so the tracing overhead is not confounded with JIT warm-up
    val (plain, tracedSamples) = tracer match {
      case None => (Seq.fill(count(seconds))(one(None)), Nil)
      case Some(t) =>
        val pairs = Seq.fill(count(seconds / 2)) {
          val u = one(None)
          t.attach()
          (u, try one(Some(t)) finally t.detach())
        }
        (pairs.map(_._1) :+ one(None), pairs.map(_._2))
    }
    // the one settled live-heap reading: no collection is forced before or
    // between timed operations. Spark keeps state per query it ran, so the
    // heap in use only grows over a run and this reading is its peak.
    val liveHeap = LiveHeap.afterGc()

    // checks run after the loop, outside timing; a mismatch or an exception
    // counts as a failed operation and contributes no time
    def checked(ss: Seq[Sample]): Seq[(Sample, Either[String, Map[String, Double]])] =
      ss.map(s => s -> s.out.toEither.left.map(e => s"exception: $e")
        .flatMap(o => Try(wl.check(o)).toEither.left.map(e =>
          s"check failed: $e").flatten))
    val checkStart = System.nanoTime()
    val warmCheck = checked(Seq(Sample(0, warmUp))).head._2
    val plainChecked = checked(plain)
    val tracedChecked = checked(tracedSamples)
    val all = plainChecked ++ tracedChecked
    (warmCheck +: all.map(_._2)).collect { case Left(msg) => msg }.distinct
      .take(5).foreach(m => println(s"[valbench] FAILED $m"))
    val failed = all.count(_._2.isLeft)
    println(f"[valbench] checks ${(System.nanoTime() - checkStart) / 1e9}%.3f s")
    val correct = failed == 0 && warmCheck.isRight

    def ok(cs: Seq[(Sample, Either[String, Map[String, Double]])]) =
      cs.collect { case (s, Right(_)) => s }
    val okPlain = ok(plainChecked)
    val times = okPlain.map(_.seconds)
    val p50 = median(times)
    println(f"[valbench] $name: ${plain.size} ops, ${failed} failed, " +
      f"failed_ratio ${failed.toDouble / all.size}%.4f")
    println(f"[valbench] op_p50_s $p50%.4f s over ${times.size} ops; " +
      tail(times) + "; ops " + plain.map(s => f"${s.seconds}%.3f").mkString(" ") + " s")
    val phaseNames = okPlain.headOption.map(s => wl.phases(s.out.get).keys)
      .getOrElse(Nil)
    phaseNames.foreach { k =>
      println(f"[valbench] $k ${median(okPlain.map(s => wl.phases(s.out.get)(k)))}%.4f s")
    }

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", p50, "s"),
        ("rows_per_s", wl.rowsPerOp * times.size / times.sum, "1/s"),
        ("live_heap_peak_mb", liveHeap / 1048576.0, "MB"))
      case Some(t) =>
        val tracedOk = tracedChecked.collect { case (s, Right(x)) => (s, x) }
        val overhead = median(tracedOk.map(_._1.seconds)) - p50
        println(f"[valbench] tracing overhead ${overhead}%.4f s " +
          f"(traced op_p50_s ${median(tracedOk.map(_._1.seconds))}%.4f, " +
          f"untraced $p50%.4f)")
        writeSpans(a("work"), name, a("seed"), t)
        t.report(wl.rowsPerOp, tracedChecked.map(_._2.getOrElse(Map.empty)))
          .toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) }
    }
    val ms = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":$correct,"attempted":${all.size},""" +
      s""""failed":$failed,"metrics":$ms}""")
    println(s"""RECORD {"spark_version":"${spark.version}",""" +
      s""""java":"${System.getProperty("java.version")}",""" +
      s""""threads":$threads,"heap_max_mb":""" +
      s"""${Runtime.getRuntime.maxMemory / 1048576}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_s") || m.endsWith(".s") => "s"
    case m if m.contains("bytes") => "bytes"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_ratio") || m.endsWith("_per_row_validated") => "ratio"
    case _ => "count"
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): String = {
    val n = xs.size
    if (n < 11) s"op_tail_s n/a (needs 11 ops, had $n)"
    else {
      val s = xs.sorted
      val k = n - 11
      val pct = 100.0 * (k + 1) / n
      f"op_tail_s ${s(k)}%.4f s at p${pct}%.1f ($n ops, 10 beyond)"
    }
  }

  private def writeSpans(work: String, name: String, seed: String,
      t: Tracer): Unit = {
    val dir = new java.io.File(s"$work/../traces")
    dir.mkdirs()
    val f = new java.io.File(dir, s"$name-seed$seed.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try t.spanLines.foreach(w.println) finally w.close()
    println(s"[valbench] spans written to ${f.getCanonicalPath}")
  }
}

/** Heap in use right after a full GC, from the memory-pool MXBeans. */
object LiveHeap {
  private lazy val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq

  private def collected(): Long = {
    System.gc()
    heapPools.map(_.getUsage.getUsed).sum
  }

  /** Spark frees unpersisted blocks, and blocks its ContextCleaner finds
    * unreachable after a collection, asynchronously and in steps (one step
    * per collection, often 60 MB or more, sometimes after a collection that
    * freed nothing): collect every 200 ms until three readings in a row
    * agree within 1 %, at most twenty times.
    */
  def afterGc(): Long = {
    val readings = scala.collection.mutable.ArrayBuffer(collected())
    def settled = readings.size >= 3 &&
      readings.takeRight(3).max - readings.takeRight(3).min <= readings.last / 100
    while (!settled && readings.size < 20) {
      Thread.sleep(200)
      readings += collected()
    }
    readings.last
  }
}
