package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, split, struct, to_json}

import graft.server.GraftServer
import graft.sources.Tables
import graft.sql.EmdriveSession

/** The serving workload: one [[GraftServer]] over an [[EmdriveSession]]
  * holding the corpus tables plus a `doc_hashes(doc_id, h)` simhash table.
  *
  *  - cold: one request per statement class, in sequence, on a fresh
  *    session (the first metric/ANN request builds its layout); k-NN only
  *    in a traced run;
  *  - warm: the same sequence again, [[WarmRounds]] times, with other
  *    probes and without k-NN;
  *  - load: an open loop from this process of lookups and writes. Requests
  *    are due at a fixed rate, with the read classes in [[ReadMix]]'s exact
  *    shares in a seeded order, and seeded probes; request i
  *    goes to connection
  *    i mod conns, which sends it when due or as soon as its previous
  *    request completes. Latency runs from the due time to the last body
  *    byte, so a stall also counts against the requests queued behind it;
  *    a request still queued when its deadline has passed fails unsent.
  *
  * Every read body is compared afterwards with the direct
  * `EmdriveSession.sql` result rendered the way the server renders it, and
  * every `own_count` with the INSERTs its connection had acknowledged.
  */
object Serve {
  val Reads = Seq("point", "eq", "metric", "knn", "ann", "agg")
  /** The load's read mix: lookups only. The heavier classes (aggregate,
    * metric and ANN search) hold the session monitor for hundreds of ms, so
    * the few a run's load could hold would decide its percentiles by where
    * they fall; they are timed in the sequences instead, and k-NN (seconds
    * per request) in the cold sequence of traced runs only. */
  val ReadMix = Seq("point" -> 0.6, "eq" -> 0.4)
  /** The classes of `n` reads: exactly the mix's shares (rounded), in an
    * order shuffled by `rng`. Drawing each class at random would let the
    * share of the slower class, and with it the percentiles, vary by seed. */
  def readClasses(n: Int, rng: scala.util.Random): IndexedSeq[String] = {
    val cum = ReadMix.scanLeft(0.0)(_ + _._2).map(f => math.round(f * n).toInt)
    rng.shuffle(ReadMix.indices.flatMap(i => Seq.fill(cum(i + 1) - cum(i))(ReadMix(i)._1)))
  }
  val Classes = Reads ++ Seq("insert", "own_count")
  /** Warm sequences per run: `warm_s` sums each class's median across
    * them. The first ones still compile plans for probes not seen before,
    * and they warm the JIT for the load that follows. */
  val WarmRounds = 5
  private val MaxRows = 10000

  /** Seeded statement parameters: a few probes per read class, so the
    * direct results can be computed once per distinct statement. */
  final class Params(seed: Long, orders: Long, docs: Long, vecs: Long) {
    private val rng = new scala.util.Random(seed)
    private def pick(n: Long, k: Int) = Seq.fill(k)((rng.nextDouble() * n).toLong)
    private val langs = Seq("en", "de", "es", "fr", "zh")
    val pool: Map[String, IndexedSeq[String]] = Map(
      "point" -> pick(orders, 3).map(k =>
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = $k;"),
      "eq" -> Seq.fill(3)((langs(rng.nextInt(5)), rng.nextInt(20))).map { case (l, s) =>
        s"SELECT doc_id, n_chars FROM documents WHERE lang = '$l' AND source = 'src$s' ORDER BY doc_id;" },
      "metric" -> pick(docs, 2).map(p =>
        s"SELECT doc_id, dist FROM metric_search(doc_hashes, doc_id, h, $p, 2) ORDER BY doc_id;"),
      "knn" -> pick(docs, 1).map(p =>
        s"SELECT h, dist FROM metric_knn(doc_hashes, doc_id, h, $p, 10) ORDER BY dist, h;"),
      "ann" -> pick(vecs, 3).map(p =>
        s"SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, $p, 10) ORDER BY sim DESC, vec_id;"),
      "agg" -> Seq.fill(3)(langs(rng.nextInt(5))).map(l =>
        s"SELECT source, COUNT(*) AS n, SUM(n_chars) AS chars FROM documents WHERE lang = '$l' GROUP BY source ORDER BY source;"),
    ).map { case (k, v) => k -> v.toIndexedSeq }
  }

  /** Render a result exactly as the server does. */
  def render(df: DataFrame): String =
    df.limit(MaxRows)
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        java.util.Map.of("ignoreNullFields", "false")).as("j"))
      .collect().map(_.getString(0)).mkString("[", ",", "]")

  /** One request's record. `body` is kept for the check and not written out. */
  final class Req(val id: String, val phase: String, val conn: Int, val cls: String,
      val sql: String, val dueMs: Double) {
    @volatile var sentMs = Double.NaN
    @volatile var endMs = Double.NaN
    @volatile var status = 0
    @volatile var body = ""
    @volatile var cause = ""
    @volatile var timedOut = false
    @volatile var expectCount = -1L
    @volatile var checkOk = true
    def checkFailed(why: String): Unit = { checkOk = false; cause = s"check: $why" }
    def toMap: Map[String, Any] = Map("id" -> id, "phase" -> phase, "conn" -> conn,
      "class" -> cls, "due_ms" -> dueMs, "start_ms" -> sentMs, "end_ms" -> endMs,
      "status" -> status, "ok" -> cause.isEmpty, "cause" -> cause, "timed_out" -> timedOut,
      "check_failed" -> !checkOk)
  }

  def run(o: Harness.Opts, jvmStart: Double, out: mutable.Map[String, Any]): Unit = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var es: EmdriveSession = null
    var server: GraftServer = null
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def url = URI.create(s"http://127.0.0.1:${server.boundPort}/")

    def send(r: Req, c: HttpClient): Unit = {
      r.sentMs = Clock.nowMs
      try {
        val resp = c.send(HttpRequest.newBuilder(url)
          .timeout(Duration.ofMillis(o.deadlineMs))
          .POST(HttpRequest.BodyPublishers.ofString(r.sql)).build(),
          HttpResponse.BodyHandlers.ofString())
        r.endMs = Clock.nowMs
        r.status = resp.statusCode()
        r.body = resp.body()
        if (r.status != 200) r.cause = s"http ${r.status}: ${r.body.take(300)}"
      } catch {
        case _: HttpTimeoutException =>
          r.endMs = r.dueMs + o.deadlineMs
          r.timedOut = true
          r.cause = s"deadline: no response within ${o.deadlineMs} ms"
        case e: Exception =>
          r.endMs = Clock.nowMs
          r.cause = Harness.describe(e)
      }
    }

    // set-up: session, prepare, table registration, server start and the
    // sequence table; repeated, every set-up but the last torn down again
    for (i <- 1 to Harness.Setups) {
      val t0 = if (i == 1) jvmStart else Clock.nowMs
      spark = Harness.newSession(o)
      es = new EmdriveSession(spark)
      Tables.all.foreach(n => es.register(n, Tables(spark, o.corpus, n)))
      es.register("doc_hashes", Tables.documents(spark, o.corpus).select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("h")))
      server = new GraftServer(es, maxRows = MaxRows)
      server.start()
      val create = new Req("create", "setup", -1, "create",
        "CREATE TABLE pb_seq (k UINT32 PRIMARY KEY, v STRING(16));", Clock.nowMs)
      send(create, client)
      require(create.cause.isEmpty, s"set-up failed: ${create.cause}")
      setups += (Clock.nowMs - t0) / 1e3
      if (i < Harness.Setups) { server.stop(); spark.stop() }
    }
    out("setup_s") = setups.toSeq
    val trace = if (o.trace) Some(new Trace(spark)) else None

    def count(t: String) = Tables(spark, o.corpus, t).count()
    val params = new Params(o.seed, count("orders"), count("documents"),
      count("embeddings"))
    val reqs = new ConcurrentLinkedQueue[Req]()
    val acked = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def stmt(cls: String, i: Int, table: String): String = cls match {
      case "insert" => s"INSERT INTO $table (k, v) VALUES ($i, 'w$i');"
      case "own_count" => s"SELECT COUNT(*) AS n FROM $table;"
      case c => params.pool(c)(i % params.pool(c).length)
    }

    // the cold sequence, then the warm rounds
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var seqN = 0
    for (round <- 0 to WarmRounds) {
      val phase = if (round == 0) "cold" else "warm"
      val r0 = Clock.nowMs
      // k-NN (seconds per request) runs in the cold sequence of a traced run
      val seq = if (round == 0 && o.trace) Classes else Classes.filterNot(_ == "knn")
      seq.foreach { cls =>
        seqN += 1
        val r = new Req(s"$phase$round:$cls", phase, -1, cls, stmt(cls, seqN, "pb_seq"), Clock.nowMs)
        if (cls == "own_count") r.expectCount = acked("pb_seq")
        send(r, client)
        if (cls == "insert" && r.cause.isEmpty) acked("pb_seq") += 1
        reqs.add(r)
      }
      rounds += Map("round" -> round, "phase" -> phase,
        "start_ms" -> r0, "end_ms" -> Clock.nowMs)
    }
    out("rounds") = rounds.toSeq

    // open-loop load
    val conns = math.max(1, o.conns)
    (0 until conns).foreach { c =>
      val r = new Req(s"create$c", "setup", c, "create",
        s"CREATE TABLE pb_conn$c (k UINT32 PRIMARY KEY, v STRING(16));", Clock.nowMs)
      send(r, client)
      require(r.cause.isEmpty, s"set-up failed: ${r.cause}")
    }
    val rng = new scala.util.Random(o.seed * 31 + 7)
    val start = Clock.nowMs + 50
    val n = math.ceil(o.seconds * o.rate).toInt
    // request i goes to connection i mod conns as that connection's j-th
    val slots = (0 until n).map { i =>
      val j = i / conns
      (i, j, if (j % 5 == 4) "insert" else if (j % 10 == 7) "own_count" else "read")
    }
    val reads = readClasses(slots.count(_._3 == "read"), rng).iterator
    val schedule = slots.map { case (i, j, kind) =>
      val c = i % conns
      val cls = if (kind == "read") reads.next() else kind
      new Req(s"load$c:$j", "load", c, cls,
        stmt(cls, if (cls == "insert") j else rng.nextInt(1 << 20), s"pb_conn$c"),
        start + i * 1e3 / o.rate)
    }
    val inflight = new AtomicInteger(0)
    val inflightMax = new AtomicInteger(0)
    val lateMs = new ConcurrentLinkedQueue[Double]()
    val workers = (0 until conns).map { c =>
      val mine = schedule.filter(_.conn == c)
      val th = new Thread(() => {
        val cl = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var acks = 0L
        mine.foreach { r =>
          val wait = r.dueMs - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          if (r.cls == "own_count") r.expectCount = acks
          if (Clock.nowMs - r.dueMs >= o.deadlineMs) {
            // the backlog already cost this request its deadline
            r.sentMs = Clock.nowMs
            r.endMs = r.dueMs + o.deadlineMs
            r.timedOut = true
            r.cause = s"deadline: still queued ${o.deadlineMs} ms after its due time"
          } else {
            lateMs.add(Clock.nowMs - r.dueMs)
            inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
            send(r, cl)
            inflight.decrementAndGet()
          }
          if (r.cls == "insert" && r.cause.isEmpty) acks += 1
          reqs.add(r)
        }
      }, s"pb-conn$c")
      th.start()
      th
    }
    workers.foreach(_.join())
    val loadEnd = Clock.nowMs
    out("load") = Map("start_ms" -> start, "end_ms" -> loadEnd, "rate" -> o.rate,
      "conns" -> conns, "scheduled" -> schedule.length,
      "inflight_max" -> inflightMax.get(), "late_ms" -> lateMs.asScala.toSeq)

    // checks: each read body against the direct result, each own_count
    // against its connection's acknowledged INSERTs
    val lowerMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val expected = mutable.Map.empty[String, String]
    def direct(cls: String, sql: String): String = expected.getOrElseUpdate(sql, {
      val t0 = Clock.nowMs
      val df = es.synchronized(es.sql(sql))
      lowerMs.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += Clock.nowMs - t0
      render(df)
    })
    reqs.asScala.foreach { r =>
      if (r.cause.isEmpty) {
        if (Reads.contains(r.cls)) {
          val want = direct(r.cls, r.sql)
          if (r.body != want)
            r.checkFailed(s"body ${r.body.take(200)} != direct result ${want.take(200)}")
        } else if (r.cls == "own_count" && r.body != s"""[{"n":${r.expectCount}}]""")
          r.checkFailed(s"own_count ${r.body.take(100)} != acknowledged ${r.expectCount}")
      }
    }
    out("ops") = reqs.asScala.toSeq.map(_.toMap)
    out("lower_ms") = lowerMs.map { case (k, v) => k -> v.toSeq }.toMap
    server.stop()
    trace.foreach { t => t.drain(); out("trace") = t.dump; t.stop() }
  }
}
