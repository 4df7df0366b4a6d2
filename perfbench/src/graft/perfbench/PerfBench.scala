package graft.perfbench

import graft.Server
import graft.mem.MemIndex
import graft.query.{SearchOptions, SearchOut}
import graft.spark.{BlockCache, Compactor, ContribCache, IndexBuilder, IndexStore, SparkSearcher}
import graft.streaming.StreamingIndexer
import graft.text.{Analyzer, HtmlExtract}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Command line of one run (see perfbench/run.py, which launches it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    docs: Int,
    appendDocs: Int,
    work: Path,
    out: Path,
    spans: Path,
    launchMs: Long,
    injectWrong: Boolean)

object PerfBench {

  /** `scan` is `batch` with both serving-cache budgets below the snapshot's
    * resident size (run.py sets them), so the engine's own residency checks
    * pick the filtered parquet scans. */
  val Workloads: Set[String] = Set("rest", "batch", "scan")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = get("workload")
    require(Workloads(w), s"unknown workload $w")
    Args(w, get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      m.getOrElse("docs", "1200").toInt, m.getOrElse("append-docs", "400").toInt,
      Paths.get(get("work")), Paths.get(get("out")), Paths.get(get("spans")),
      m.getOrElse("launch-ms", System.currentTimeMillis().toString).toLong,
      m.getOrElse("inject-wrong", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = new Runner(a)
    try r.run()
    catch {
      case e: Throwable =>
        r.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally r.close()
    r.writeResult()
  }
}

/** One benchmark run: set-up, warm-up, the timed window, the correctness
  * gate, and (traced runs) the per-layer probes. */
final class Runner(a: Args) {
  import Stats._

  // ---- results ----
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val settings = mutable.LinkedHashMap.empty[String, String]
  private val problems = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (problems.size < 20) problems += msg
  }
  private def note(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  // ---- engine ----
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val work = a.work
  Files.createDirectories(work)

  /** The session `graft.Main` builds: local[nproc], shuffle partitions =
    * nproc, zstd shuffle, default cache budgets; scratch under `work`. */
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.io.compression.codec", "zstd")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionReadyMs = System.currentTimeMillis()

  val trace = new Trace(spark.sparkContext, a.trace)
  private val cfg = IndexBuilder.BuildConfig()
  private val base = Inputs.baseId(a.seed)
  private val corpusEnd = base + a.docs
  private val parts = cpus * 2
  private val SetupReps = 2
  /** Warm-up rounds of `batch` and `scan` (a search call and a bm25 call
    * each): about 8 s on a quiet host; throughput rose steeply until then in tuning. */
  private val WarmupRounds = 10

  settings ++= Seq(
    "workload" -> a.workload, "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
    "trace" -> a.trace.toString, "docs" -> a.docs.toString, "append_docs" -> a.appendDocs.toString,
    "page_ids" -> s"[$base, $corpusEnd)", "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> cpus.toString, "shuffle_codec" -> "zstd",
    "spark_local_dir" -> work.resolve("spark-local").toString,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
    "block_cache_budget_mb" -> (BlockCache.configuredBudget >> 20).toString,
    "contrib_cache_budget_mb" -> (ContribCache.configuredBudget >> 20).toString,
    "setup_reps" -> SetupReps.toString)

  // ---- shared pieces ----
  private val serveBuildSecs = ArrayBuffer.empty[Double]
  private val serveReadySecs = ArrayBuffer.empty[Double]
  private var warmupSecs = 0.0
  private var setupEndMs = 0L
  private val searchMs = ArrayBuffer.empty[Double]
  private val bm25Ms = ArrayBuffer.empty[Double]
  private var ops = 0.0
  private var opsWindowSecs = 0.0
  private var cpuNs = 0L
  private var indexDir: String = _
  private var searcher: SparkSearcher = _
  // the queries of every traced search / bm25 call, for per-query figures
  private val callsS = ArrayBuffer.empty[Seq[Query]]
  private val callsB = ArrayBuffer.empty[Seq[Seq[String]]]
  private def traced: Boolean = a.trace && trace.recording
  private var windowEndMs = 0L
  private var servingPostings: Seq[String] = Nil

  /** One timed batch call of the window. */
  private final case class Call(search: Boolean, startNs: Long, endNs: Long, n: Int, cpuNs: Long)

  private def pagesDf(from: Long, until: Long) = Inputs.pages(spark, from, until, parts)
  private def build(dir: String): Double =
    timed(trace.call("builder")(IndexBuilder.build(spark, pagesDf(base, corpusEnd), dir, cfg)))._2
  private def open(dir: String): SparkSearcher = trace.call("open")(SparkSearcher.open(spark, dir))

  /** The serving set-up: the build (the first in this JVM, as when a user
    * launches the engine), then `SetupReps` times open + first answer. */
  private def servingSetup(): Unit = {
    indexDir = work.resolve("serve").toString
    serveBuildSecs += build(indexDir)
    val qs = new QueryStream(a.seed + 1)
    for (_ <- 0 until SetupReps) {
      val (s, t) = timed { val s = open(indexDir); s.search(qs.next().req); s }
      serveReadySecs += t
      searcher = s
    }
    log(s"set-up builds ${serveBuildSecs.map(x => f"$x%.2f").mkString(" ")} s, open+first answer ${serveReadySecs.map(x => f"$x%.2f").mkString(" ")} s")
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs `rounds` warm-up rounds of the workload's own traffic. The count
    * is fixed per workload (where throughput stopped rising in tuning), so
    * set-up does the same work in every run; `round` returns the round's
    * operations per second, which is logged with the round's JIT time. */
  private def warmUp(rounds: Int)(round: Int => Double): Unit = {
    val t = now
    for (i <- 0 until rounds) {
      val j = jitMs
      val r = round(i)
      log(f"warm-up round $i: $r%.1f op/s, JIT ${jitMs - j} ms")
    }
    settings("warmup_rounds") = rounds.toString
    warmupSecs = secs(t)
  }

  /** Alternates traced and untraced segments of a traced window so the
    * trace's own cost can be read off; untraced runs stay untraced. */
  private val segOps = Array(0.0, 0.0)
  private val segSecs = Array(0.0, 0.0)
  private def segment(startNs: Long): Int =
    if (!a.trace) 0 else (((now - startNs) / 1e9 / (a.seconds / 4.0)).toInt % 2)
  private def inSegment[A](startNs: Long, nOps: => Double)(body: => A): A = {
    val s = segment(startNs)
    trace.recording = !a.trace || s == 1
    val t = now
    val r = body
    segSecs(s) += secs(t)
    segOps(s) += nOps
    r
  }

  private var gcWindowMs = 0L
  private var jitWindowMs = 0L
  private val stealStart = stealTicks
  private var stealWindow = (0L, 0L)

  private def markSetupEnd(): Unit = {
    setupEndMs = System.currentTimeMillis()
    gcWindowMs = gcMs
    jitWindowMs = jitMs
    stealWindow = stealTicks
    trace.recording = a.trace
  }
  private def endWindow(): Unit = {
    windowEndMs = System.currentTimeMillis()
    gcWindowMs = gcMs - gcWindowMs
    jitWindowMs = jitMs - jitWindowMs
    val st = stealTicks
    def stealPct(from: (Long, Long)) = f"${100.0 * (st._1 - from._1) / math.max(1L, st._2 - from._2)}%.1f"
    settings ++= Seq("window_gc_ms" -> gcWindowMs.toString, "window_jit_ms" -> jitWindowMs.toString,
      "window_steal_pct" -> stealPct(stealWindow), "run_steal_pct" -> stealPct(stealStart))
  }

  def run(): Unit = {
    a.workload match {
      case "rest" => runRest()
      case "batch" | "scan" => runBatch()
    }
    endToEnd()
    if (a.trace) {
      layerProbes()
      layerMetrics()
    }
  }

  // ================= rest =================

  private final case class Resp(kind: String, key: String, status: Int, body: String, ms: Double)

  private def draw(qs: QueryStream): (String, String, String) = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    qs.nextKind() match {
      case "search" =>
        val q = qs.next()
        ("search", s"/search?req=${enc(q.req)}&dist=${q.dist}", s"${q.dist} ${q.req}")
      case "bm25" =>
        val ws = qs.nextBm25().mkString(" ")
        ("bm25", s"/bm25?req=${enc(ws)}&k=10", ws)
      case "suggest" =>
        val p = qs.nextPrefix()
        ("suggest", s"/suggest?req=${enc(p)}", p)
      case _ =>
        val w = qs.word()
        ("close", s"/close?req=${enc(w)}", w)
    }
  }

  private def get(port: Int, path: String): (Int, String) = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(30000)
    c.setReadTimeout(60000)
    val st = c.getResponseCode
    val in = if (st >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
    (st, body)
  }

  /** `clients` closed-loop clients until `stopNs`; returns the responses
    * completed by then and the clients' own CPU time (ns). */
  private def restLoop(port: Int, clients: Int, stopNs: Long, phase: Int): (Seq[Resp], Long) = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Resp]()
    val clientCpu = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until clients).map { c =>
      val t = new Thread(() => {
        val cpu0 = threadCpuNs
        val qs = new QueryStream(a.seed * 1009 + phase * 31 + c)
        while (now < stopNs) {
          val (kind, path, key) = draw(qs)
          val t0 = now
          val (st, body) =
            try get(port, path)
            catch { case e: Exception => (-1, String.valueOf(e)) }
          if (now <= stopNs) out.add(Resp(kind, key, st, body, (now - t0) / 1e6))
          else if (phase < 100) synchronized(attemptedLate += 1)
        }
        clientCpu.addAndGet(threadCpuNs - cpu0)
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    ts.foreach(_.join())
    (scala.jdk.CollectionConverters.CollectionHasAsScala(out).asScala.toSeq, clientCpu.get())
  }
  private var attemptedLate = 0L

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def jnum(d: Double): String = if (java.lang.Double.isFinite(d)) d.toString else "null"

  /** The body `Server` must answer for a request, from a direct call. */
  private def direct(kind: String, key: String): String = kind match {
    case "search" =>
      val (d, req) = key.splitAt(key.indexOf(' '))
      if (traced) callsS.synchronized(callsS += Seq(Query("direct", req.drop(1), d.toInt)))
      Server.toJson(trace.call("search")(searcher.search(req.drop(1), SearchOptions(dist = d.toInt))))
    case "bm25" =>
      val words = key.split("\\s+").toSeq.filter(_.nonEmpty)
      if (traced) callsB.synchronized(callsB += Seq(words))
      val top = trace.call("bm25")(searcher.bm25TopK(words, 10))
      top.map { case (d, sc) => s"""{"docId": $d, "score": ${jnum(sc)}}""" }.mkString("[", ",", "]")
    case "suggest" => searcher.suggest(key).map(jstr).mkString("[", ",", "]")
    case _ => searcher.closeWords(key).map(jstr).mkString("[", ",", "]")
  }

  private var serverOverheadMs = Double.NaN
  private var suggestP50Ms = Double.NaN

  private def runRest(): Unit = {
    servingSetup()
    val server = Server.serve(searcher, 0, block = false)
    try {
      val port = server.getAddress.getPort
      val clients = math.min(4, cpus)
      settings ++= Seq("loop" -> "closed", "clients" -> clients.toString,
        "server_threads" -> sys.env.getOrElse("GRAFT_SERVER_THREADS", "default"))
      warmUp(6)(i => {
        val d = 2.5
        restLoop(port, clients, now + (d * 1e9).toLong, 100 + i)._1.size / d
      })
      markSetupEnd()
      val cpu0 = processCpuNs
      val t0 = now
      val (resps, clientCpu) =
        if (!a.trace) restLoop(port, clients, t0 + a.seconds * 1000000000L, 0)
        else {
          // traced: alternate listener-on and listener-off quarters
          val rs = ArrayBuffer.empty[Resp]
          var cc = 0L
          for (q <- 0 until 4) {
            trace.recording = q % 2 == 1
            val ts = now
            val (r, c) = restLoop(port, clients, t0 + ((q + 1) * a.seconds * 250000000L), q)
            segOps(q % 2) += r.size
            segSecs(q % 2) += secs(ts)
            rs ++= r
            cc += c
          }
          trace.recording = true
          (rs.toSeq, cc)
        }
      val wall = secs(t0)
      endWindow()
      cpuNs = processCpuNs - cpu0 - clientCpu
      ops = resps.size
      opsWindowSecs = wall
      attempted += resps.size + attemptedLate
      // the faster half of each endpoint's requests, as in `batch`
      searchMs ++= fasterHalf(resps.filter(_.kind == "search"))(_.ms).map(_.ms)
      bm25Ms ++= fasterHalf(resps.filter(_.kind == "bm25"))(_.ms).map(_.ms)
      resps.filter(_.status != 200).foreach(r => fail(s"HTTP ${r.status} on ${r.kind} '${r.key}': ${r.body.take(200)}"))
      val counts = resps.groupBy(_.kind).map { case (k, v) => k -> v.size }
      settings("rest_mix") = Seq("search", "bm25", "suggest", "close").map(k => s"$k=${counts.getOrElse(k, 0)}").mkString(",")
      put("rest.rps", resps.size / wall, "req/s")
      suggestP50Ms = pct(resps.filter(_.kind == "suggest").map(_.ms), 50)

      // gate: every distinct request of the window is replayed through a
      // direct call (untimed, `clients` at a time, as the window ran them);
      // every HTTP answer to it must equal the direct answer byte for byte
      val tCheck = now
      val byKey = resps.filter(_.status == 200).groupBy(r => (r.kind, r.key))
      val keys = byKey.keys.toSeq.sortBy(k => (k._1, k._2))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
      val replies =
        try keys.map(k => pool.submit(new java.util.concurrent.Callable[(String, Double)] {
          def call(): (String, Double) = timed(direct(k._1, k._2))
        })).map(_.get())
        finally pool.shutdown()
      keys.zip(replies).foreach { case ((kind, key), (want, _)) =>
        byKey((kind, key)).filter(_.body != want).foreach(r =>
          fail(s"REST $kind '$key' differs from the direct call: ${r.body.take(120)} vs ${want.take(120)}"))
      }
      val searchKeys = keys.zip(replies).filter(_._1._1 == "search")
      serverOverheadMs = pct(searchKeys.flatMap(k => byKey(k._1).map(_.ms)), 50) -
        pct(searchKeys.map(_._2._2 * 1000), 50)
      settings ++= Seq("rest_checked_responses" -> byKey.values.map(_.size).sum.toString,
        "rest_distinct_requests" -> keys.size.toString, "rest_check_s" -> f"${secs(tCheck)}%.2f")
    } finally server.stop(0)
    memCheck(searcher)
  }

  // ================= batch =================

  private def runBatch(): Unit = {
    servingSetup()
    // one searchBatch is one block of the stream's template deck, so every
    // call carries the same template mix and call latencies are comparable
    val searchBatchSize = QueryStream.Block
    val bm25BatchSize = 16000
    settings ++= Seq("loop" -> "closed", "clients" -> "1",
      "search_batch" -> searchBatchSize.toString, "bm25_batch" -> bm25BatchSize.toString)
    val warm = new QueryStream(a.seed * 7 + 3)
    def searchCall(qs: Seq[Query]): Seq[SearchOut] =
      trace.call("search")(searcher.searchBatch(qs.map(q => (q.req, SearchOptions(dist = q.dist)))))
    def bm25Call(qs: Seq[Seq[String]]): Seq[Seq[(Long, Double)]] =
      trace.call("bm25")(searcher.bm25TopKBatch(qs, 10))
    warmUp(WarmupRounds)(_ => {
      val (_, s1) = timed(searchCall(Seq.fill(searchBatchSize)(warm.next())))
      val (_, s2) = timed(bm25Call(Seq.fill(bm25BatchSize)(warm.nextBm25())))
      (searchBatchSize + bm25BatchSize) / (s1 + s2)
    })
    markSetupEnd()
    val stream = new QueryStream(a.seed)
    // a seeded sample of the window's own answers joins the MemIndex check
    val pick = new java.util.Random(a.seed ^ 0xBA7C4L)
    val checkS = ArrayBuffer.empty[(Query, SearchOut)]
    val checkB = ArrayBuffer.empty[(Seq[String], Seq[(Long, Double)])]
    val calls = ArrayBuffer.empty[Call]
    val t0 = now
    val deadline = t0 + a.seconds * 1000000000L
    var i = 0
    while (now < deadline || i < 4) {
      if (i % 2 == 0) {
        val qs = Seq.fill(searchBatchSize)(stream.next())
        val cpu0 = processCpuNs
        val c0 = now
        val out = inSegment(t0, searchBatchSize)(searchCall(qs))
        calls += Call(search = true, c0, now, qs.size, processCpuNs - cpu0)
        if (out.size != qs.size) fail(s"searchBatch answered ${out.size} of ${qs.size}")
        if (checkS.size < 12 && out.size == qs.size) checkS += qs.zip(out).apply(pick.nextInt(qs.size))
        if (traced) callsS += qs
      } else {
        val qs = Seq.fill(bm25BatchSize)(stream.nextBm25())
        val cpu0 = processCpuNs
        val c0 = now
        val out = inSegment(t0, bm25BatchSize)(bm25Call(qs))
        calls += Call(search = false, c0, now, qs.size, processCpuNs - cpu0)
        if (out.size != qs.size) fail(s"bm25TopKBatch answered ${out.size} of ${qs.size}")
        if (checkB.size < 12 && out.size == qs.size) checkB += qs.zip(out).apply(pick.nextInt(qs.size))
        if (traced) callsB += qs
      }
      i += 1
    }
    endWindow()
    attempted += calls.map(_.n).sum
    def ms(c: Call) = (c.endNs - c.startNs) / 1e6
    log("window calls (kind ms): " + calls.map(c => f"${if (c.search) "s" else "b"}${ms(c)}%.0f").mkString(" "))
    // Every call of a kind does the same work (a searchBatch is one block of
    // the stream's template deck, a bm25TopKBatch about 500 blocks of its
    // rank deck), and what else runs on a shared host only adds time to a call:
    // GC pauses, JIT bursts, the hypervisor's steal. So the figures come
    // from the faster half of each kind's calls. An engine change moves
    // every call, the faster half too; throughput and CPU are those of one
    // round (a search call and a bm25 call) at the faster-half means.
    val (allS, allB) = calls.toSeq.partition(_.search)
    val (fastS, fastB) = (fasterHalf(allS)(ms(_)), fasterHalf(allB)(ms(_)))
    searchMs ++= fastS.map(ms)
    bm25Ms ++= fastB.map(ms)
    ops = searchBatchSize + bm25BatchSize
    opsWindowSecs = (mean(searchMs) + mean(bm25Ms)) / 1000
    cpuNs = (mean(fastS.map(_.cpuNs.toDouble)) + mean(fastB.map(_.cpuNs.toDouble))).toLong
    put("batch.search_qps", searchBatchSize * 1000 / mean(searchMs), "q/s")
    put("batch.bm25_qps", bm25BatchSize * 1000 / mean(bm25Ms), "q/s")
    settings ++= Seq("window_calls" -> calls.size.toString,
      "all_calls_search_p50_ms" -> f"${median(allS.map(ms))}%.2f",
      "all_calls_bm25_p50_ms" -> f"${median(allB.map(ms))}%.2f")
    settings("distinct_query_ratio") = f"${stream.distinctRatio}%.4f"
    memCheck(searcher, checkS.toSeq, checkB.toSeq)
  }

  // ================= writes (probed in traced runs) =================

  private var nextId = corpusEnd + 5000000L

  /** The doc appended in ids [from, until) must be found by a fresh searcher
    * through both query paths. */
  private def probe(s: SparkSearcher, from: Long, until: Long, oldDocs: Long): Unit = {
    val id = Inputs.titledId(from, until)
    val url = graft.fixtures.PagesGen.urlFor(id)
    val out = trace.call("probe")(s.search(id.toString))
    val top = trace.call("probe")(s.bm25TopK(Seq(id.toString), 10))
    note(out.docs.size == 1 && out.docs.head.name.endsWith(url),
      s"probe search for appended doc $id found ${out.docs.map(_.name)}")
    note(top.size == 1 && top.head._1 >= oldDocs && out.docs.headOption.exists(_.docId == top.head._1),
      s"probe bm25 for appended doc $id returned $top")
  }

  /** One write cycle on `dir`: append a fresh batch, open, probe; compact,
    * reopen, probe. */
  private def writeCycle(dir: String): Unit = {
    val from = nextId
    val until = from + a.appendDocs
    nextId = until
    val before = IndexStore.readSnapshot(dir).map(_.nDocs).getOrElse(0L)
    val added = trace.call("append")(StreamingIndexer.appendBatch(spark, pagesDf(from, until), dir, cfg, 1L))
    note(added == a.appendDocs, s"appendBatch added $added of ${a.appendDocs}")
    probe(open(dir), from, until, before)
    trace.call("compact")(Compactor.compact(spark, dir))
    probe(open(dir), from, until, before)
    note(IndexStore.readSnapshot(dir).exists(_.nDocs == before + added), "compaction changed the doc count")
  }

  // ================= correctness gate =================

  /** MemIndex over the run's corpus: the engine's answers on a seeded query
    * sample (plus any given batch answers) must equal it. Untimed. */
  private def memCheck(s: SparkSearcher,
                       batchS: Seq[(Query, SearchOut)] = Nil,
                       batchB: Seq[(Seq[String], Seq[(Long, Double)])] = Nil): Unit = {
    val t = now
    val m = new MemIndex(Analyzer())
    Inputs.localPages(base, corpusEnd).foreach { case (url, html) =>
      val ex = HtmlExtract.extract(html)
      if (ex.text.nonEmpty) m.addDoc("web:" + url, ex.headers(url, "web"), Seq(("1", ex.text)))
    }
    log(f"MemIndex built in ${secs(t)}%.2f s")
    note(s.nDocs == m.nDocs, s"nDocs ${s.nDocs} vs MemIndex ${m.nDocs}")
    // `rest` gives no batch answers: its sample is drawn and answered here
    val qs = new QueryStream(a.seed + 777)
    val nDirect = if (batchS.isEmpty) 3 else 0
    val direct = Seq.fill(nDirect)(qs.next()).map(q => q -> s.search(q.req, SearchOptions(dist = q.dist)))
    val directB = Seq.fill(nDirect)(qs.nextBm25()).map(w => w -> s.bm25TopK(w, 10))
    var checked = 0
    def names(o: SearchOut) = o.docs.map(_.name)
    (direct ++ batchS).zipWithIndex.foreach { case ((q, got), i) =>
      val want0 = m.search(q.req, SearchOptions(dist = q.dist))
      val want = if (a.injectWrong && i == 0) want0.copy(nFoundPages = want0.nFoundPages + 1) else want0
      checked += 1
      note(got.nFoundPages == want.nFoundPages && names(got) == names(want) &&
        got.docs.map(_.bm25) == want.docs.map(_.bm25),
        s"search '${q.req}' (dist ${q.dist}): found ${got.nFoundPages}/${got.docs.size} vs MemIndex ${want.nFoundPages}/${want.docs.size}")
    }
    (directB ++ batchB).foreach { case (w, got) =>
      val want = m.bm25TopK(w, 10)
      checked += 1
      note(got == want && got.map(d => m.doc(d._1).name) == want.map(d => m.doc(d._1).name),
        s"bm25 $w: $got vs MemIndex $want")
    }
    settings("memindex_checked") = checked.toString
    settings("memindex_check_s") = f"${secs(t)}%.2f"
  }

  // ================= per-layer probes (traced runs) =================

  private def layerProbes(): Unit = {
    // text: single thread over a seeded sample of the run's pages
    val ids = (0 until 300).map(i => base + java.lang.Math.floorMod(Inputs.mix(a.seed + i), a.docs.toLong))
    val htmls = ids.map(graft.fixtures.PagesGen.htmlFor)
    val an = Analyzer()
    var ex: Seq[HtmlExtract.Extracted] = Nil
    for (_ <- 0 until 3) ex = htmls.map(HtmlExtract.extract) // warm
    val (_, tEx) = timed(trace.call("text")(for (_ <- 0 until 3) ex = htmls.map(HtmlExtract.extract)))
    val urls = ids.map(graft.fixtures.PagesGen.urlFor)
    def tok(): Unit = ex.zip(urls).foreach { case (e, u) =>
      graft.core.DocTokenizer.indexGrouped(an, e.headers(u, "web"), Seq(("1", e.text)))
    }
    tok()
    val (_, tTok) = timed(trace.call("text")(for (_ <- 0 until 3) tok()))
    put("text.extract_us_per_doc", tEx * 1e6 / (3 * ids.size), "us")
    put("text.tokenize_us_per_doc", tTok * 1e6 / (3 * ids.size), "us")

    // query: plan() alone, over a fresh stream sample
    val qs = new QueryStream(a.seed + 4242)
    val sample = Seq.fill(200)(qs.next())
    sample.foreach(q => searcher.plan(q.req, SearchOptions(q.dist)))
    val (_, tPlan) = timed(sample.foreach(q => searcher.plan(q.req, SearchOptions(q.dist))))
    put("query.plan_us", tPlan * 1e6 / sample.size, "us")

    // layers the workload's own traffic does not reach
    trace.recording = true
    writeCycle(indexDir)
    // rest measures the server in its window; a window without a /suggest
    // (a very short one), batch and scan probe it with sequential requests,
    // whose answers must equal the direct calls'
    if (serverOverheadMs.isNaN || suggestP50Ms.isNaN) {
      val s = open(indexDir)
      searcher = s
      val server = Server.serve(s, 0, block = false)
      try {
        val port = server.getAddress.getPort
        val q = new QueryStream(a.seed + 99)
        val sampleQ = Seq.fill(6)(q.next())
        sampleQ.foreach(x => direct("search", s"${x.dist} ${x.req}")) // warm the new searcher
        val http = sampleQ.map(x =>
          timed(get(port, s"/search?req=${java.net.URLEncoder.encode(x.req, "UTF-8")}&dist=${x.dist}")))
        val dir = sampleQ.map(x => timed(direct("search", s"${x.dist} ${x.req}")))
        attempted += sampleQ.size
        sampleQ.indices.foreach(i => note(http(i)._1 == ((200, dir(i)._1)),
          s"REST /search '${sampleQ(i).req}' differs from the direct call: ${http(i)._1._2.take(120)}"))
        serverOverheadMs = pct(http.map(_._2 * 1000), 50) - pct(dir.map(_._2 * 1000), 50)
        suggestP50Ms = pct(Seq.fill(6)(q.nextPrefix()).map(p => timed(get(port, s"/suggest?req=$p"))._2 * 1000), 50)
      } finally server.stop(0)
    }
    put("server.overhead_ms", serverOverheadMs, "ms")
    put("server.suggest_p50_ms", suggestP50Ms, "ms")
  }

  // ================= metrics =================

  private def endToEnd(): Unit = {
    val heap = liveHeapMb
    val setupS = (sessionReadyMs - a.launchMs) / 1000.0 + serveBuildSecs.sum + median(serveReadySecs) + warmupSecs
    val snap = IndexStore.readSnapshot(indexDir).get
    servingPostings = snap.files("postings").map(f => s"$indexDir/$f")
    val snapBytes = snap.files.values.flatten.map(f => treeBytes(Paths.get(indexDir, f))).sum
    put("setup_s", setupS, "s")
    put("ops_per_s", ops / opsWindowSecs, "1/s")
    put("search_fast_ms", mean(searchMs), "ms")
    put("bm25_fast_ms", mean(bm25Ms), "ms")
    put("cpu_ms_per_op", cpuNs / 1e6 / ops, "ms")
    put("build_docs_per_s", a.docs / serveBuildSecs.head, "docs/s")
    put("index_bytes_per_doc", snapBytes.toDouble / snap.nDocs, "B/doc")
    put("live_heap_mb", heap, "MB")
    settings ++= Seq("search_samples" -> searchMs.size.toString, "bm25_samples" -> bm25Ms.size.toString,
      "setup_session_s" -> f"${(sessionReadyMs - a.launchMs) / 1000.0}%.3f",
      "setup_builds_s" -> serveBuildSecs.map(x => f"$x%.3f").mkString(","),
      "setup_open_s" -> serveReadySecs.map(x => f"$x%.3f").mkString(","),
      "setup_warmup_s" -> f"$warmupSecs%.3f",
      "index_docs" -> snap.nDocs.toString, "index_bytes" -> snapBytes.toString,
      "postings_bytes" -> servingPostings.map(f => treeBytes(Paths.get(f))).sum.toString)
  }

  private def layerMetrics(): Unit = {
    trace.drain()
    def perCall(layer: String) = trace.spans.toArray(Array.empty[Span]).count(_.name == layer).max(1)
    val b = trace.layer("builder")
    val nb = perCall("builder").toDouble
    val builds = trace.spans.toArray(Array.empty[Span]).filter(_.name == "builder")
    put("builder.wall_s", builds.map(s => (s.endMs - s.startMs) / 1000.0).lastOption.getOrElse(Double.NaN), "s")
    put("builder.exec_cpu_s", b.execCpuNs / 1e9 / nb, "s")
    put("builder.gc_s", b.gcMs / 1000.0 / nb, "s")
    put("builder.tasks", b.tasks / nb, "count")
    put("builder.shuffle_write_bytes", b.shuffleWriteBytes / nb, "B")
    put("builder.spill_bytes", b.spillBytes / nb, "B")
    put("builder.output_bytes", b.outputBytes / nb, "B")
    val ap = trace.layer("append")
    val na = perCall("append").toDouble
    val appends = trace.spans.toArray(Array.empty[Span]).filter(_.name == "append")
    put("append.wall_s", median(appends.map(s => (s.endMs - s.startMs) / 1000.0)), "s")
    put("append.exec_cpu_s", ap.execCpuNs / 1e9 / na, "s")
    put("append.jobs", ap.jobs / na, "count")
    put("append.output_bytes", ap.outputBytes / na, "B")
    val cp = trace.layer("compact")
    val nc = perCall("compact").toDouble
    put("compact.exec_cpu_s", cp.execCpuNs / 1e9 / nc, "s")
    put("compact.shuffle_write_bytes", cp.shuffleWriteBytes / nc, "B")
    put("compact.bytes_rewritten", cp.outputBytes / nc, "B")
    val op = trace.layer("open")
    val opens = trace.spans.toArray(Array.empty[Span]).filter(_.name == "open")
    put("open.wall_ms", median(opens.map(s => (s.endMs - s.startMs).toDouble)), "ms")
    put("open.jobs", op.jobs.toDouble / opens.length.max(1), "count")
    for ((l, nq) <- Seq("search" -> callsS.map(_.size).sum, "bm25" -> callsB.map(_.size).sum)) {
      val w = trace.layer(l)
      val q = nq.max(1).toDouble
      put(s"$l.jobs_per_query", w.jobs / q, "count")
      put(s"$l.tasks_per_query", w.tasks / q, "count")
      put(s"$l.exec_cpu_ms_per_query", w.execCpuNs / 1e6 / q, "ms")
      put(s"$l.driver_ms_per_query", trace.driverMs(l) / q, "ms")
      put(s"$l.input_bytes_per_query", w.inputBytes / q, "B")
    }
    put("cache.block_resident_mb", BlockCache.totalBytes / 1048576.0, "MB")
    put("cache.contrib_resident_mb", ContribCache.totalBytes / 1048576.0, "MB")
    put("scan.read_amplification", readAmplification(), "ratio")
    put("sched.task_delay_ms_p50", pct(trace.taskDelaysMs.map(_.toDouble), 50), "ms")
    put("jvm.gc_ms_per_s", gcWindowMs * 1000.0 / (windowEndMs - setupEndMs), "ms/s")
    put("sched.jobs_per_s", trace.jobsBetween(setupEndMs, windowEndMs) / ((windowEndMs - setupEndMs) / 1000.0), "1/s")
    val untraced = if (segSecs(0) > 0) segOps(0) / segSecs(0) else Double.NaN
    val traced = if (segSecs(1) > 0) segOps(1) / segSecs(1) else Double.NaN
    put("trace.overhead_pct", (untraced - traced) / untraced * 100, "%")
    trace.writeSpans(a.spans)
  }

  /** Bytes the queried calls read divided by the postings-block bytes of
    * the terms they queried (from the postings files; 0 reads = 0). */
  private def readAmplification(): Double = {
    val read = trace.layer("search").inputBytes + trace.layer("bm25").inputBytes
    if (read == 0) return 0.0
    import org.apache.spark.sql.functions._
    val perCall = callsS.map(_.flatMap(q => searcher.plan(q.req, SearchOptions(q.dist)).allCodes).distinct) ++
      callsB.map(_.flatten.flatMap(w =>
        graft.query.QueryPlanner.resolveWordCodes(w, exact0 = false, searcher.analyzer, searcher)._1).distinct)
    val terms = perCall.flatten.distinct.toSeq
    val sizes = spark.read.parquet(servingPostings: _*)
      .filter(col("term").isin(terms: _*))
      .groupBy("term")
      .agg(sum(length(col("docDeltas")) + length(col("tfs")) + length(col("dls")) + length(col("posDeltas"))).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val needed = perCall.map(_.map(t => sizes.getOrElse(t, 0L)).sum).sum.toDouble
    if (needed == 0) 0.0 else read.toDouble / needed
  }

  // ================= teardown =================

  def close(): Unit = {
    try spark.stop() catch { case _: Throwable => }
  }

  def writeResult(): Unit = {
    def num(d: Double) = if (java.lang.Double.isFinite(d)) d.toString else "null"
    val ms = metrics.map { case (k, (v, u)) => s"""${jstr(k)}: {"value": ${num(v)}, "unit": ${jstr(u)}}""" }
    val st = settings.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
    val json =
      s"""{"correct": ${failed == 0 && problems.isEmpty}, "attempted": ${attempted.max(1)}, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}, "settings": {${st.mkString(", ")}}, """ +
        s""""problems": [${problems.map(jstr).mkString(", ")}]}"""
    Files.write(a.out, json.getBytes("UTF-8"))
  }
}
