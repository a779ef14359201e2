package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.lsh.LshConfig
import graft.server.{HttpFacade, Json, StoreAdapter}
import graft.store.{FileLog, VectorStore}

/** `rest_serve`: the reference deployment. An LSH [[VectorStore]] with the
  * reference config (3 buckets, 4 hash functions) behind [[HttpFacade]],
  * loaded over `/add_vectors`, then an open loop of `/search` requests at
  * a fixed ladder of rates. The corpus is small, so the server, Catalyst
  * planning, the per-job scheduling floor and snapshot resolution
  * dominate each request.
  */
object RestServe {
  val N = 3000
  val Dim = 512
  val Batch = 1000 // the reference loader's batch; N / Batch commits
  val Clusters = 80
  val PoolSize = 256
  val Ks: Array[Int] = Array(1, 5, 10, 20, 50, 100)
  /** Offered rates (requests/s). The untraced run offers only the first,
    * for the whole measured time, so the end-to-end latency rests on as
    * many samples as the time allows; the traced run climbs the ladder,
    * giving the first rate 2/3 of the time, for `max_qps_at_slo`.
    */
  val Ladder: Seq[Int] = Seq(3, 6, 12)
  val SloP90Ms = 250.0
  /** Set-up runs this many times; its times are the rounds' medians. */
  val SetupRounds = 3
  val MinRecall = 0.9
  private val Exact = 0
  private val Probes2 = 1
  private val AtRecall = 2

  final case class Req(pool: Int, k: Int, mode: Int)
  final case class Sent(step: Int, req: Req, dueNs: Long, startNs: Long,
      endNs: Long, code: Int, body: String) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def lateMs: Double = (startNs - dueNs) / 1e6
  }

  /** One set-up round's live store and facade, with its times. */
  final case class Round(store: VectorStore, adapter: StoreAdapter.Lsh,
      facade: HttpFacade, path: String, setupS: Double, buildS: Double,
      ingestS: Double, postMs: Seq[Double])

  def post(port: Int, path: String, body: String): (Int, String) = {
    val conn = new URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(30000)
    conn.setRequestProperty("Content-Type", "application/json")
    val bytes = body.getBytes(UTF_8)
    conn.setFixedLengthStreamingMode(bytes.length)
    val os = conn.getOutputStream
    try os.write(bytes) finally os.close()
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, text)
  }

  private def vecJson(v: Array[Double]): String = v.mkString("[", ",", "]")

  private def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val corpus = Corpus(c.seed, N, Dim, Clusters)
    val rnd = new SplittableRandom(Gauss.mix(c.seed, 101))
    def noisyOf(r: SplittableRandom) =
      Gauss.noisy(corpus.vector(r.nextInt(N).toLong), r, 0.05)
    val pool = Array.fill(PoolSize)(noisyOf(rnd))
    val zipf = new Zipf(PoolSize, 1.1)
    // The mix is stratified: every block of 30 requests holds each k five
    // times and exactly 15 exact, 9 probes=2 and 6 min_recall requests, in
    // seeded order, so a short step's latency does not swing with the mix.
    val block = for (i <- 0 until 30)
      yield (Ks(i % Ks.length), if (i < 15) Exact else if (i < 24) Probes2 else AtRecall)
    def reqStream(r: SplittableRandom): Iterator[Req] =
      Iterator.continually {
        val ks = shuffle(block.map(_._1), r)
        shuffle(block.map(_._2), r).zip(ks).map { case (m, k) => Req(zipf.draw(r), k, m) }
      }.flatten
    def bodyOf(q: Req): String =
      s"""{"query_vector":${vecJson(pool(q.pool))},"k":${q.k}""" + (q.mode match {
        case Probes2 => ""","probes":2}"""
        case AtRecall => s""","min_recall":$MinRecall}"""
        case _ => "}"
      })

    val ingestBodies = (0 until N / Batch).map { b =>
      val ids = (b * Batch until (b + 1) * Batch)
      s"""{"vectors":${ids.map(i => corpus.vector(i).mkString("[", ",", "]"))
        .mkString("[", ",", "]")},"ids":${ids.mkString("[", ",", "]")}}"""
    }

    // ---- set-up, SetupRounds times: empty store, facade, REST ingest and
    // recall audit, each round into its own directory. The times are the
    // rounds' medians; the last round's facade serves the load.
    def setUp(r: Int): Round = {
      val t0 = c.now
      val path = s"${c.dir}/lsh-$r"
      val store = VectorStore.build(spark, corpus.frame(spark, 0, 0, 1), path,
        LshConfig(numHashFunctions = 4, numHashTables = 3, dim = Dim))
      val adapter = new StoreAdapter.Lsh(spark, store)
      // started outside any span: the dispatcher thread inherits no span id
      val facade = new HttpFacade(spark, adapter, 0).start()
      try {
        val tBuild = c.now
        val postMs = ingestBodies.zipWithIndex.map { case (body, b) =>
          val t1 = c.now
          val (code, resp) = post(facade.boundPort, "/add_vectors", body)
          val ms = c.sinceMs(t1)
          if (code != 200) c.check.fail(s"round $r add_vectors", s"HTTP $code $resp")
          else c.check.count(s"round $r add_vectors batch $b total",
            Json.asLong(Json.parse(resp).asInstanceOf[Map[String, Any]]("total_vectors")),
            (b + 1L) * Batch)
          ms
        }
        val pr = new SplittableRandom(Gauss.mix(c.seed, 202))
        store.auditRecallCurve(Seq.fill(32)(noisyOf(pr)), 10)
        Round(store, adapter, facade, path, c.sinceS(t0), c.sinceS(tBuild),
          postMs.sum / 1e3, postMs)
      } catch { case e: Throwable => facade.stop(); throw e }
    }
    val rounds = (0 until SetupRounds).map { r =>
      val round = setUp(r)
      if (r < SetupRounds - 1) round.facade.stop()
      round
    }
    val Round(store, adapter, facade, path, _, _, _, _) = rounds.last
    val port = facade.boundPort
    try {
      // the search path is still being compiled after set-up: two blocks
      // of warm-up requests keep that out of the measured step
      reqStream(new SplittableRandom(Gauss.mix(c.seed, 303))).take(60)
        .foreach(q => post(port, "/search", bodyOf(q)))
      c.e2e("setup_s") = Stats.median(rounds.map(_.setupS))
      c.e2e("build_s") = Stats.median(rounds.map(_.buildS))
      c.e2e("ingest_rows_per_s") = N / Stats.median(rounds.map(_.ingestS))
      c.notes += "setup_rounds_s" -> rounds.map(_.setupS)
      c.notes += "ingest_post_ms" -> rounds.flatMap(_.postMs)

      // ---- measured: open loop over the ladder, ≤ nproc/2 connections
      val stream = reqStream(new SplittableRandom(Gauss.mix(c.seed, 404)))
      val sent = mutable.ArrayBuffer[Sent]()
      val rates = if (c.traced) Ladder else Ladder.take(1)
      val steps = rates.zipWithIndex.map { case (rate, i) =>
        val durS = c.seconds *
          (if (rates.size == 1) 1.0 else if (i == 0) 2.0 / 3 else 1.0 / 3 / (rates.size - 1))
        val n = math.max(1, math.round(rate * durS).toInt)
        val reqs = stream.take(n).toArray
        val out = openLoop(port, i, rate, reqs, reqs.map(bodyOf), c.slots)
        sent ++= out
        stepStats(rate, out)
      }
      val passing = steps.filter(_("passes") == 1.0)
      c.e2e("search_p50_ms") = steps.head("p50_ms")
      c.e2e("search_p90_ms") = steps.head("p90_ms")
      c.layer("max_qps_at_slo") =
        if (passing.isEmpty) 0.0 else passing.map(_("rate")).max
      c.notes += "ladder" -> steps.map(_.toSeq.sortBy(_._1))

      // ---- verification against the brute-force oracle
      val flat = corpus.flat()
      val oracle = mutable.Map[Int, Array[Hit]]()
      def want(p: Int) = oracle.getOrElseUpdate(p, Oracle.topK(flat, Dim, pool(p), 100))
      def trueDist(p: Int)(id: Long) =
        if (id >= 0 && id < N) Some(Oracle.dist(flat, id.toInt * Dim, pool(p))) else None
      val atRecall = mutable.ArrayBuffer[Double]()
      sent.foreach { s =>
        val what = s"search step ${s.step} ${s.req}"
        if (s.code != 200) c.check.fail(what, s"HTTP ${s.code} ${s.body.take(200)}")
        else {
          val m = Json.parse(s.body).asInstanceOf[Map[String, Any]]
          val ids = m("indices").asInstanceOf[Vector[Vector[Any]]].head.map(Json.asLong)
          val ds = m("distances").asInstanceOf[Vector[Vector[Any]]].head.map(Json.asDouble)
          val probes = Json.asLong(m("probes")).toInt
          val got = ids.zip(ds)
          val w = want(s.req.pool).take(s.req.k)
          val ok =
            if (probes >= store.model.numBuckets) c.check.exact(what, got, w)
            else c.check.approx(what, got, s.req.k, w, trueDist(s.req.pool))
          if (s.req.mode == AtRecall)
            atRecall += (if (ok) Checker.recall(ids, w, s.req.k) else 0.0)
        }
      }
      if (atRecall.nonEmpty && Stats.mean(atRecall.toSeq) < MinRecall)
        c.check.fail("min_recall promise",
          s"mean recall ${Stats.mean(atRecall.toSeq)} < $MinRecall")
      c.e2e("recall_at10") = c.check.meanRecall
      c.e2e("space_amp") = Ctx.dirBytes(new java.io.File(path)).toDouble /
        (N.toLong * (8 + 4 * Dim))

      if (c.traced) traced(c, store, adapter, port, pool, reqStream, bodyOf,
        want, trueDist, steps, ingestBodies.head)
    } finally facade.stop()
  }

  /** Sends `reqs` at `rate`/s from `conns` threads; each request is timed
    * from the moment it was due, so a stalled sender delays the latencies
    * of the requests queued behind it.
    */
  private def openLoop(port: Int, step: Int, rate: Int, reqs: Array[Req],
      bodies: Array[String], conns: Int): Seq[Sent] = {
    val out = new Array[Sent](reqs.length)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime() + 20000000L
    val threads = (0 until conns).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.length) {
          val due = t0 + (i * 1e9 / rate).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val st = System.nanoTime()
          val (code, body) =
            try post(port, "/search", bodies(i))
            catch { case e: Exception => (-1, e.toString) }
          out(i) = Sent(step, reqs(i), due, st, System.nanoTime(), code, body)
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq
  }

  /** A step passes when p90 meets the SLO, ≤1% fail, and completions keep
    * up with the offered rate (no growing backlog).
    */
  private def stepStats(rate: Int, out: Seq[Sent]): Map[String, Double] = {
    val lat = out.map(_.latencyMs)
    val failed = out.count(_.code != 200).toDouble / out.size
    val spanS = (out.map(_.endNs).max - out.map(_.dueNs).min) / 1e9
    val keptUp = out.size / math.max(spanS, 1e-9) >= 0.9 * rate ||
      out.size <= 1
    val p90 = Stats.pct(lat, 90)
    Map("rate" -> rate.toDouble, "n" -> out.size.toDouble,
      "p50_ms" -> Stats.median(lat), "p90_ms" -> p90,
      "mean_ms" -> Stats.mean(lat),
      "late_mean_ms" -> Stats.mean(out.map(_.lateMs)),
      "late_max_ms" -> out.map(_.lateMs).max, "failed_frac" -> failed,
      "passes" -> (if (p90 <= SloP90Ms && failed <= 0.01 && keptUp) 1.0 else 0.0)) ++
      Seq(Exact -> "exact", Probes2 -> "probes2", AtRecall -> "min_recall").map {
        case (m, name) =>
          s"p50_ms_$name" -> Stats.median(out.filter(_.req.mode == m).map(_.latencyMs))
      } ++
      // by quarter of the step, in send order: shows drift within a run
      (1 to 4).map(i => s"p50_ms_q$i" ->
        Stats.median(lat.slice((i - 1) * lat.size / 4, i * lat.size / 4)))
  }

  /** Traced-only: replay fixed requests layer by layer on this thread,
    * then measure the HTTP overhead and the ingest decode.
    */
  private def traced(c: Ctx, store: VectorStore, adapter: StoreAdapter.Lsh,
      port: Int, pool: Array[Array[Double]],
      reqStream: SplittableRandom => Iterator[Req],
      bodyOf: Req => String, want: Int => Array[Hit],
      trueDist: Int => Long => Option[Double], steps: Seq[Map[String, Double]],
      ingestBody: String): Unit = {
    val t = c.trace
    val replay = reqStream(new SplittableRandom(Gauss.mix(c.seed, 505))).take(30).toArray
    var results = 0L
    replay.zipWithIndex.foreach { case (q, i) =>
      t.span("request", i.toLong) {
        val body = t.span("server.decode")(
          Json.parse(bodyOf(q)).asInstanceOf[Map[String, Any]])
        val qv = body("query_vector").asInstanceOf[Vector[Any]].map(Json.asDouble).toArray
        val k = Json.asLong(body("k")).toInt
        t.span("store.recall_curve")(store.recallCurve())
        val probes = q.mode match {
          case AtRecall => adapter.probesFor(MinRecall, k)
          case Probes2 => 2
          case _ => adapter.maxProbes
        }
        t.span("lsh.candidates")(store.model.candidates(qv, probes))
        t.span("store.snapshot")(FileLog.read(store.path))
        val got = c.search("search", adapter.search(qv, k, probes))
        results += got.size
        t.span("server.encode")(Json.write(Map("status" -> "success",
          "distances" -> Vector(got.map(_._2).toVector),
          "indices" -> Vector(got.map(_._1).toVector), "probes" -> probes)))
        val w = want(q.pool).take(k)
        if (probes >= store.model.numBuckets) c.check.exact(s"replay $i", got, w)
        else c.check.approx(s"replay $i", got, k, w, trueDist(q.pool))
      }
    }
    def mean(name: String) = Layers.meanMs(t.named(name))
    c.layer("server.decode_ms") = mean("server.decode")
    c.layer("server.encode_ms") = mean("server.encode")
    c.layer("store.recall_curve_us") = mean("store.recall_curve") * 1e3
    c.layer("lsh.candidates_us") = mean("lsh.candidates") * 1e3
    c.layer("store.snapshot_us") = mean("store.snapshot") * 1e3
    Layers.searches(c, t.named("search"), results)

    // one idle connection vs the same request's direct adapter call
    val idle = replay.take(12).map { q =>
      val restMs = Layers.medianMs(1)(post(port, "/search", bodyOf(q)))
      val directMs = Layers.medianMs(1)(
        adapter.search(pool(q.pool), q.k, if (q.mode == Probes2) 2 else adapter.maxProbes).collect())
      (restMs, directMs)
    }
    val idleRest = Stats.median(idle.map(_._1).toSeq)
    c.layer("server.http_overhead_ms") = idleRest - Stats.median(idle.map(_._2).toSeq)
    steps.foreach { s =>
      c.layer(s"server.queue_wait_ms.at${s("rate").toInt}qps") =
        math.max(0.0, s("mean_ms") - idleRest)
    }
    c.layer("server.ingest_decode_ms") = Layers.medianMs(3)(Json.parse(ingestBody))
  }
}
