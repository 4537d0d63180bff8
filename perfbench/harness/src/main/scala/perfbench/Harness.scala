package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** One benchmark run in a fresh JVM. Everything is timed from outside the
  * engine, through its public entry points:
  *
  *  - batch: each key's build (`SparkEntry.queries(k)(spark, dir)`) and a
  *    full-result action (a parquet write of every output row and column),
  *    pass 1 over the keys with empty artifact stores, then warm passes in
  *    the same session until the measuring time is used;
  *  - serving: HTTP requests to a [[graft.server.GraftServer]] (see [[Serve]]).
  *
  * The run writes raw records (per-operation times, causes of failure,
  * listener events when traced) as one JSON file; `perfbench/run.py` turns
  * them into metrics and checks the outputs.
  */
object Harness {

  final case class Opts(kind: String, corpus: String, runDir: String,
      seconds: Double, seed: Long, trace: Boolean, deadlineMs: Long,
      keys: Seq[String], out: String, rate: Double, conns: Int)

  /** Cores of the box: the run uses local[Cpus]. */
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Set-ups per run: `setup_s` is their median. Only the first counts from
    * JVM start; the others stop the session and build it again. */
  val Setups = 3

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("kind"), need("corpus"), need("run-dir"), need("seconds").toDouble,
      need("seed").toLong, need("trace") == "1", need("deadline-ms").toLong,
      m.get("keys").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      need("out"), m.getOrElse("rate", "0").toDouble, m.getOrElse("conns", "1").toInt)
  }

  /** A fresh session as the engine's own factory builds it, with every
    * scratch location inside the run directory. */
  def newSession(o: Opts): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(s)
    s
  }

  /** Run `body` under a job group and a deadline enforced from outside:
    * on expiry the group's jobs are cancelled (interrupting their tasks)
    * and the calling thread is interrupted until it gives up. Returns
    * (ok, cause, timedOut). */
  def withDeadline(sc: SparkContext, group: String, deadlineMs: Long)(
      body: () => Unit): (Boolean, String, Boolean) = {
    val task = new FutureTask[Unit](() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try body() finally sc.clearJobGroup()
    })
    val th = new Thread(task, group)
    th.setDaemon(true)
    th.start()
    try { task.get(deadlineMs, TimeUnit.MILLISECONDS); (true, "", false) }
    catch {
      case _: TimeoutException =>
        val giveUp = System.currentTimeMillis() + 10000
        while (th.isAlive && System.currentTimeMillis() < giveUp) {
          sc.cancelJobGroup(group)
          th.interrupt()
          th.join(200)
        }
        (false, s"deadline: exceeded $deadlineMs ms" +
          (if (th.isAlive) " (still running, abandoned)" else ""), true)
      case e: ExecutionException =>
        (false, describe(Option(e.getCause).getOrElse(e)), false)
    }
  }

  def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").linesIterator
      .take(3).mkString(" | ").take(400)}"

  /** Which module registers each key, for per-module time. */
  private lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "AsOf" -> graft.operators.AsOf.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "Multimodal" -> graft.operators.Multimodal.queries,
    "Pipeline" -> graft.operators.Pipeline.queries,
    "Sampling" -> graft.operators.Sampling.queries,
    "PqIndex" -> graft.operators.PqIndex.queries,
    "Pca" -> graft.operators.Pca.queries,
    "SqlQueries" -> graft.sql.SqlQueries.queries,
    "StreamQueries" -> graft.streaming.StreamQueries.queries,
  ).flatMap { case (mod, qs) => qs.keys.map(_ -> mod) }.toMap

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val out = mutable.LinkedHashMap[String, Any]("kind" -> o.kind, "seed" -> o.seed,
      "cpus" -> Cpus)
    val result =
      try {
        o.kind match {
          case "batch" => runBatch(o, jvmStart, out)
          case "serving" => Serve.run(o, jvmStart, out)
        }
        0
      } catch { case e: Throwable =>
        out("fatal") = describe(e)
        e.printStackTrace()
        1
      }
    out("peak_rss_mb") = vmHwmMb()
    out("jvm") = jvmStats()
    Files.writeString(Paths.get(o.out), Json.write(out.toMap))
    SparkSession.getDefaultSession.foreach(_.stop())
    System.exit(result)
  }

  private def runBatch(o: Opts, jvmStart: Double,
      out: mutable.Map[String, Any]): Unit = {
    val fns = SparkEntry.queries
    val unknown = o.keys.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    // set-up: session build, GraftSession.prepare and table registration,
    // repeated; every set-up but the last is torn down again
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      val t0 = if (i == 1) jvmStart else Clock.nowMs
      spark = newSession(o)
      Tables.all.foreach(n => Tables(spark, o.corpus, n).schema)
      setups += (Clock.nowMs - t0) / 1e3
      if (i < Setups) spark.stop()
    }
    out("setup_s") = setups.toSeq
    val sc = spark.sparkContext
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val memo = mutable.LinkedHashMap.empty[String, Any]
    out("module") = o.keys.map(k => k -> moduleOf.getOrElse(k, "")).toMap
    out("oracle") = SparkEntry.oracleSql.filter(kv => o.keys.contains(kv._1))

    def runPass(pass: Int): Unit = {
      val order = new scala.util.Random(o.seed * 7919 + pass).shuffle(o.keys)
      val dir = if (pass <= 2) s"${o.runDir}/out/p$pass" else s"${o.runDir}/out/scratch"
      val p0 = Clock.nowMs
      order.foreach { key =>
        val id = s"p$pass:$key"
        val start = Clock.nowMs
        var built = Double.NaN
        val (ok, cause, timedOut) = withDeadline(sc, s"pb:$id", o.deadlineMs) { () =>
          val df = fns(key)(spark, o.corpus)
          built = Clock.nowMs
          df.write.mode("overwrite").parquet(s"$dir/$key")
        }
        val end = if (timedOut) start + o.deadlineMs else Clock.nowMs
        ops += Map("id" -> id, "pass" -> pass, "key" -> key,
          "start_ms" -> start, "built_ms" -> (if (built.isNaN) end else built),
          "end_ms" -> end, "ok" -> ok, "cause" -> cause, "timed_out" -> timedOut)
      }
      passes += Map("pass" -> pass, "start_ms" -> p0,
        "end_ms" -> Clock.nowMs)
      if (pass == 1) memo("cold") = cacheStats(sc)
    }

    val t0 = Clock.nowMs
    runPass(1)
    var pass = 1
    // warm passes while the next one fits the measuring time, and at least
    // three: the JIT is still warming in the first
    def lastPassMs = passes.last("end_ms").asInstanceOf[Double] -
      passes.last("start_ms").asInstanceOf[Double]
    while (pass < 4 || Clock.nowMs - t0 + lastPassMs <= o.seconds * 1e3) {
      pass += 1
      runPass(pass)
    }
    memo("warm") = cacheStats(sc)
    out("ops") = ops.toSeq
    out("passes") = passes.toSeq
    out("memo") = memo.toMap
    trace.foreach { t => t.drain(); out("trace") = t.dump; t.stop() }
  }

  /** Cached RDDs and their size (memory + disk), as Spark's storage
    * status reports them. */
  def cacheStats(sc: SparkContext): Map[String, Any] = {
    val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    Map("rdds" -> infos.length,
      "mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  def jvmStats(): Map[String, Any] = Map(
    "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
    "heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
