package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit,
  TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A failed output check inside an operation. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, state: Path, traceOut: Path)

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linearly interpolated percentile (`q` in 0..100). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = q / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of the usual percentiles with at least ten samples
    * beyond it, if any.
    */
  def highPct(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(q => n * (1 - q / 100) >= 10)
}

/** Order-independent digest: a sum of 64-bit hashes of output lines. */
final class Digest {
  private var acc = 0L
  def add(s: String): Unit = acc += graft.graph.GraphModel.fnv64(s)
  def addAll(xs: Iterable[String]): Unit = xs.foreach(add)
  def hex: String = f"$acc%016x"
}

/** Shared state of one benchmark run: the session, the tracer, the
  * single client thread every Spark call runs on, operation counts,
  * latency samples and the output checks.
  */
final class Bench(val spark: SparkSession, val args: Args) {
  val sc = spark.sparkContext
  val tr = new Tracer(sc)
  if (args.trace) sc.addSparkListener(tr)

  private var worker: ExecutorService = newWorker()
  private def newWorker(): ExecutorService =
    Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-client")
      t.setDaemon(true)
      t
    }

  var attempted = 0
  var failed = 0
  /** Failures that mean a wrong or missing answer (not a deadline). */
  val wrong = mutable.ArrayBuffer.empty[String]
  val timedOut = mutable.ArrayBuffer.empty[String]
  private var opSeq = 0L
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val digest = new Digest

  def sample(name: String, ms: Double): Unit =
    lat.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  def bump(name: String, by: Double = 1): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + by

  def ensure(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Run Spark work on the client thread and wait for it. */
  def onClient[A](body: => A): A = {
    val f = worker.submit(new Callable[A] { def call(): A = body })
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  /** One counted operation: `work` runs on the client thread under its
    * own job group and is timed; `verify` then checks its result. An
    * exception, a failed check or a passed deadline counts as a failure;
    * on a deadline the job group is cancelled until the work returns.
    * Returns the elapsed milliseconds and the result, if any.
    */
  def op[A](name: String, deadlineMs: Long = 120000L)(work: => A)(
      verify: A => Unit): (Double, Option[A]) = {
    attempted += 1
    opSeq += 1
    val group = s"perfbench-op-$opSeq"
    val seq = opSeq
    val f = worker.submit(new Callable[(Long, A)] {
      def call(): (Long, A) = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        tr.beginOp(seq)
        val t0 = System.nanoTime()
        try {
          val r = work
          (System.nanoTime() - t0, r)
        } finally sc.clearJobGroup()
      }
    })
    val t0 = System.nanoTime()
    try {
      val (ns, r) = f.get(deadlineMs, TimeUnit.MILLISECONDS)
      val ms = ns / 1e6
      try {
        verify(r)
        (ms, Some(r))
      } catch {
        case e: Throwable =>
          failed += 1
          wrong += s"$name: ${e.getMessage}"
          (ms, None)
      }
    } catch {
      case _: TimeoutException =>
        var waited = 0
        while (!f.isDone && waited < 30000) {
          sc.cancelJobGroup(group)
          Thread.sleep(50)
          waited += 50
        }
        if (!f.isDone) { // stuck outside Spark jobs: abandon the thread
          worker.shutdownNow()
          worker = newWorker()
        }
        failed += 1
        timedOut += name
        ((System.nanoTime() - t0) / 1e6, None)
      case e: java.util.concurrent.ExecutionException =>
        failed += 1
        wrong += s"$name: ${e.getCause}"
        ((System.nanoTime() - t0) / 1e6, None)
    }
  }

  /** A workload-level check outside any timed operation; it counts as
    * one attempted operation.
    */
  def check(name: String)(body: => Unit): Unit =
    op(name)(body)(_ => ())

  /** Compare this run's digest with the one recorded for the same
    * workload, seed and input sizes by an earlier run in this checkout.
    */
  def checkDigest(key: String): Unit = check("digest") {
    val f = args.state.resolve(s"${args.workload}-$key.digest")
    Files.createDirectories(f.getParent)
    val now = digest.hex
    if (Files.exists(f)) {
      val before = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .trim
      ensure(before == now, s"result digest $now differs from $before " +
        "recorded by an earlier run with the same seed")
    } else Files.write(f, now.getBytes(StandardCharsets.UTF_8))
  }

  def fresh(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def shutdown(): Unit = worker.shutdownNow()
}

object Bench {
  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def hasParquet(p: Path): Boolean =
    Files.exists(p) && {
      val s = Files.walk(p)
      try s.anyMatch(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Whether a timed loop that started at `t0` and whose last round took
    * `lastS` seconds should run another round: it ends at the round
    * boundary nearest to `seconds`, after at least `minRounds` rounds.
    */
  def another(b: Bench, t0: Long, rounds: Int, lastS: Double,
      minRounds: Int = 1): Boolean =
    rounds < math.max(minRounds, if (b.args.trace) 2 else 1) ||
      secs(t0) + lastS / 2 < b.args.seconds

  /** Set-up in two parts: the data set-up (generate, ingest or cache)
    * runs `reps` times and its median counts; the warm-up then runs once
    * on the kept data. Earlier data set-ups are released with `drop`.
    * With `traceLast`, a traced run traces the last data set-up.
    * Returns the kept data and the set-up seconds.
    */
  def setup[A](b: Bench, reps: Int, traceLast: Boolean = false)(
      data: Int => A)(drop: A => Unit)(warm: A => Unit): (A, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    (0 until reps).foreach { i =>
      last.foreach(a => b.onClient(drop(a)))
      b.tr.enabled = b.args.trace && traceLast && i == reps - 1
      val t0 = System.nanoTime()
      last = Some(b.onClient(data(i)))
      times += secs(t0)
      b.tr.enabled = false
    }
    val t0 = System.nanoTime()
    b.onClient(warm(last.get))
    val warmS = secs(t0)
    println(f"setup: data ${times.map(t => f"$t%.2f").mkString(", ")} s " +
      f"(median counted), warm-up $warmS%.2f s")
    b.counters("setup.reps") = reps
    (last.get, Stats.median(times.toSeq) + warmS)
  }
}
