package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.lsh.LshConfig
import graft.store._

/** `store_churn`: single-threaded Scala-API mutations with reads after
  * writes on all three index layouts, each built from one seeded corpus.
  * Every window applies one mutation to one layout, then runs read rounds
  * that search every layout, plus one approximate IVF search for recall,
  * and counts every layout, all against each layout's in-memory id →
  * vector model; the run ends with a compaction of every layout and the
  * same reads. The commit protocol, grid writes,
  * feed reduction and the grid-scoped rewrites dominate.
  */
object StoreChurn {
  val N = 10000
  /** Corpus of the traced run's scan and kernel layers. */
  val ScanN = 100000
  val Dim = 64
  val Clusters = 80
  val K = 10
  val Kinds: Seq[String] = Seq("add", "upsert", "delete", "apply_changes")
  private val RowBytes = 8 + 4 * Dim
  /** Set-up runs this many times; its times are the rounds' medians. */
  val SetupRounds = 3
  /** Untimed read rounds after set-up, so the timed reads run warm. */
  val WarmUpReads = 2
  /** Read rounds after each window and after the compaction; the traced
    * run, whose layer metrics are per-search means, takes one.
    */
  val ReadRounds = 4

  /** One layout behind the mutation surface the windows need, with the
    * id → vector model its answers are checked against. `approx` is the
    * approximate search checked for recall, where the layout has one.
    */
  private final class Layout(val name: String, val dir: String,
      val add: DataFrame => Unit, val upsert: DataFrame => Unit,
      val delete: Seq[Long] => Unit, val applyChanges: DataFrame => Unit,
      val compact: () => Unit, val exact: Array[Double] => DataFrame,
      val count: () => Long, base: collection.Map[Long, Array[Float]],
      val approx: Option[(String, Array[Double] => DataFrame)] = None) {
    val model: mutable.HashMap[Long, Array[Float]] = mutable.HashMap.from(base)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val corpus = Corpus(c.seed, N, Dim, Clusters)
    val base = (0 until N).map(i => i.toLong -> corpus.vector(i)).toMap
    val r = new SplittableRandom(Gauss.mix(c.seed, 707))
    val df = corpus.frame(spark, 0, N, c.slots)
    val insertsOnly = (rows: DataFrame) => rows
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0L))

    /** The three layouts built from the corpus under `root`. */
    def build(root: String): Seq[Layout] = {
      val lsh = VectorStore.build(spark, df, s"$root/lsh",
        LshConfig(numHashTables = 16, dim = Dim))
      val quant = QuantIndex.build(spark, df, s"$root/quant",
        QuantConfig(ivfCells = 16, tiers = Set(QuantTier.Pq)))
      val mt = MultiTableStore.build(spark, df, s"$root/mt",
        LshConfig(numHashFunctions = 2, numHashTables = 4, dim = Dim, multiTable = true))
      Seq(
        new Layout("lsh", lsh.path, lsh.add(_), lsh.upsert(_), lsh.delete(_),
          lsh.applyChanges(_), () => lsh.compact(vacuumGraceMs = 0),
          q => lsh.search(q, K, lsh.model.numBuckets), () => lsh.indexDf.count(), base),
        new Layout("quant", quant.dataDir, quant.add(_), quant.upsert(_),
          quant.delete(_), quant.applyChanges(_),
          () => quant.compact(vacuumGraceMs = 0),
          q => quant.searchIvf(q, K, nprobe = quant.model.cfg.ivfCells),
          () => quant.indexDf.count(), base,
          Some("ivf4" -> (q => quant.searchIvf(q, K, nprobe = 4)))),
        // the multi-table layout has no upsert: it takes upserts as a feed
        new Layout("mt", mt.path, mt.add(_), rows => mt.applyChanges(insertsOnly(rows)),
          mt.delete(_), mt.applyChanges(_), () => mt.compact(vacuumGraceMs = 0),
          q => mt.exact(q, K), () => mt.indexDf.where(col("table") === 0).count(),
          base))
    }

    val searchMs = mutable.ArrayBuffer[Double]()
    def query(model: collection.Map[Long, Array[Float]]): Array[Double] = {
      val live = model.keys.toArray.sorted
      Gauss.noisy(model(live(r.nextInt(live.length))), r, 0.05)
    }
    /** `rounds` rounds of one timed exact search per layout plus each
      * approximate search, then one count per layout, all checked.
      */
    def reads(label: String, which: Seq[Layout], rounds: Int): Unit = {
      (1 to rounds).foreach { _ =>
        which.foreach { l =>
          val q = query(l.model)
          val t0 = c.now
          val got = c.search(s"search.${l.name}", l.exact(q))
          searchMs += c.sinceMs(t0)
          c.check.exact(s"$label ${l.name} exact", got, Oracle.topK(l.model, q, K))
        }
        which.foreach { l =>
          l.approx.foreach { case (kind, search) =>
            val m = l.model
            val q = query(m)
            val t0 = c.now
            val got = c.search(s"search.$kind", search(q))
            searchMs += c.sinceMs(t0)
            c.check.approx(s"$label ${l.name} $kind", got, K, Oracle.topK(m, q, K),
              id => m.get(id).map(v => Oracle.dist(v, 0, q)))
          }
        }
      }
      which.foreach(l =>
        c.check.count(s"$label ${l.name} count", l.count(), l.model.size.toLong))
    }

    // ---- set-up, SetupRounds times: the three layouts, each round into its
    // own directory, then one round of reads. The times are the rounds'
    // medians; the last round's layouts take the churn.
    val rounds = (0 until SetupRounds).map { i =>
      val t0 = c.now
      val built = build(s"${c.dir}/round$i")
      val buildS = c.sinceS(t0)
      reads(s"set-up $i", built, 1)
      (built, c.sinceS(t0), buildS)
    }
    val layouts = rounds.last._1
    reads("warm-up", layouts, WarmUpReads)
    searchMs.clear()
    val buildS = Stats.median(rounds.map(_._3))
    c.e2e("setup_s") = Stats.median(rounds.map(_._2))
    c.e2e("build_s") = buildS
    c.e2e("ingest_rows_per_s") = 3.0 * N / buildS
    c.notes += "setup_rounds_s" -> rounds.map(_._2)

    // ---- measured: the windows, then one compaction of every layout
    var nextId = N.toLong
    var version = 0L
    val mutMs = mutable.ArrayBuffer[Double]()
    var churnRows = 0L
    val commits = mutable.ArrayBuffer[Int]()
    val logical = mutable.Map[String, Long]().withDefaultValue(0L)
    def sample(model: collection.Map[Long, Array[Float]], m: Int): Seq[Long] = {
      val live = model.keys.toArray.sorted
      (0 until m).foreach { i =>
        val j = i + r.nextInt(live.length - i)
        val t = live(i); live(i) = live(j); live(j) = t
      }
      live.take(m).toSeq
    }
    def fresh(id: Long): Array[Float] = corpus.vector(id + (version + 1) * 1000000000L)
    def rowsDf(rows: Seq[(Long, Array[Float])]): DataFrame = rows.toDF("id", "embedding")
    def mutate(kind: String, l: Layout, rows: Long)(f: Layout => Unit): Unit = {
      val v0 = if (c.traced) FileLog.read(l.dir).version else 0
      val t0 = c.now
      c.trace.span(s"store.${l.name}.$kind")(f(l))
      mutMs += c.sinceMs(t0)
      if (c.traced) commits += FileLog.read(l.dir).version - v0
      churnRows += rows
      logical(l.name) += rows * RowBytes
    }

    // Window w mutates one layout with one kind; the fixed Latin order
    // covers all four kinds every 4 windows and all three layouts every 3.
    // The window count is fixed by --seconds (one per nominal 4 s of
    // mutation), not by the clock, so a faster or slower machine does not
    // change the mix of reads the latency metrics see.
    val schedule = (0 until 12).map(w => (Kinds(w % 4), layouts(w % 3)))
    val windows = if (c.traced) schedule.size else math.max(1, (c.seconds + 3) / 4)
    val readRounds = if (c.traced) 1 else ReadRounds
    var w = 0
    while (w < windows) {
      val (kind, l) = schedule(w % schedule.size)
      val model = l.model
      version += 1
      kind match {
        case "add" =>
          val from = nextId
          nextId += 500
          mutate(kind, l, 500)(_.add(corpus.frame(spark, from, nextId, 1)))
          (from until nextId).foreach(id => model(id) = corpus.vector(id))
        case "upsert" =>
          val ids = sample(model, 150) ++ (nextId until nextId + 50)
          nextId += 50
          val rows = ids.map(id => id -> fresh(id))
          mutate(kind, l, rows.size)(_.upsert(rowsDf(rows)))
          rows.foreach { case (id, v) => model(id) = v }
        case "delete" =>
          val ids = sample(model, 100)
          mutate(kind, l, ids.size)(_.delete(ids))
          ids.foreach(model.remove)
        case _ =>
          // 100 updates, 80 inserts, 80 deletes, and 20 new ids inserted
          // then deleted in a later version (net: absent)
          val live = sample(model, 180)
          val upd = live.take(100)
          val del = live.drop(100)
          val ins = nextId until nextId + 80
          val flip = nextId + 80 until nextId + 100
          nextId += 100
          val events =
            (upd ++ ins).map(id => (id, fresh(id), "insert", version * 10)) ++
            del.map(id => (id, model(id), "delete", version * 10)) ++
            flip.flatMap(id => Seq((id, fresh(id), "insert", version * 10),
              (id, fresh(id), "delete", version * 10 + 1)))
          val feed = events.toDF("id", "embedding", "_change_type", "_commit_version")
          if (c.traced) c.trace.span("feedsync.net")(
            FeedSync.netWithCounts(feed, "id", "embedding"))
          mutate(kind, l, events.size)(_.applyChanges(feed))
          (upd ++ ins).foreach(id => model(id) = fresh(id))
          (del ++ flip).foreach(model.remove)
      }
      reads(s"window $w ($kind ${l.name})", layouts, readRounds)
      w += 1
    }
    val tCompact = c.now
    layouts.foreach(l => c.trace.span(s"store.${l.name}.compact")(l.compact()))
    val compactS = c.sinceS(tCompact)
    reads("after compaction", layouts, readRounds)
    val mutTotalS = mutMs.sum / 1e3
    c.e2e("search_p50_ms") = Stats.median(searchMs.toSeq)
    c.e2e("search_p90_ms") = Stats.pct(searchMs.toSeq, 90)
    c.e2e("recall_at10") = c.check.meanRecall
    c.e2e("space_amp") = layouts.map(l => Ctx.dirBytes(new java.io.File(l.dir))).sum
      .toDouble / layouts.map(_.model.size.toLong * RowBytes).sum
    c.layer("mutation_p50_ms") = Stats.median(mutMs.toSeq)
    c.layer("mutation_p90_ms") = Stats.pct(mutMs.toSeq, 90)
    c.layer("churn_rows_per_s") = churnRows / mutTotalS
    c.layer("compact_s") = compactS
    Seq("mutation_p50_ms", "mutation_p90_ms", "churn_rows_per_s", "compact_s")
      .foreach(m => c.notes += m -> c.layer(m))
    c.notes += "windows" -> w
    c.notes += "mutations" -> mutMs.size
    c.notes += "searches" -> searchMs.size

    if (c.traced) {
      val t = c.trace
      Layers.searches(c, layouts.map(l => s"search.${l.name}").flatMap(t.named) ++
        t.named("search.ivf4"), searchMs.size.toLong * K)
      scanLayers(c)
      layouts.foreach { l =>
        var written = 0.0
        (Kinds :+ "compact").foreach { k =>
          val sub = Layers.subtree(t.spans, t.named(s"store.${l.name}.$k"))
          val n = math.max(1, t.named(s"store.${l.name}.$k").size)
          c.layer(s"store.${l.name}.$k.ms") = Layers.meanMs(t.named(s"store.${l.name}.$k"))
          c.layer(s"store.${l.name}.$k.jobs") = sub.map(_.jobs).sum.toDouble / n
          c.layer(s"store.${l.name}.$k.bytes_written") = sub.map(_.outputBytes).sum.toDouble / n
          written += sub.map(_.outputBytes).sum
        }
        c.layer(s"store.${l.name}.write_amp") = written / logical(l.name)
        val files = FileLog.read(l.dir).files
        c.layer(s"filelog.${l.name}.live_files") = files.size
      }
      c.layer("filelog.commits_per_mutation") = Stats.mean(commits.map(_.toDouble).toSeq)
      c.layer("filelog.read_us") =
        Stats.median(layouts.map(l => Layers.medianMs(5)(FileLog.read(l.dir)))) * 1e3
      c.layer("filelog.footer_ms") = Stats.mean(layouts.map(l =>
        Layers.medianMs(3)(FileLog.footerRows(spark, FileLog.read(l.dir).files))))
      val net = t.named("feedsync.net")
      c.layer("feedsync.net_ms") = Layers.meanMs(net)
      c.layer("feedsync.jobs") = net.map(_.jobs).sum.toDouble / math.max(1, net.size)
    }
  }

  /** Traced-only scan and kernel layers, on their own larger corpus so
    * the scan and the kernels, not the job floor, dominate: exact LSH
    * search for the distance kernel, `searchPq` split into ADC and
    * re-rank, and the two floors beside them — one core scanning the same
    * vectors in a JVM array, and Spark decoding the embedding column into
    * a no-op sink.
    */
  private def scanLayers(c: Ctx): Unit = {
    val t = c.trace
    val corpus = Corpus(c.seed + 1, ScanN, Dim, Clusters)
    val df = corpus.frame(c.spark, 0, ScanN, c.slots)
    val lsh = VectorStore.build(c.spark, df, s"${c.dir}/scan-lsh",
      LshConfig(numHashTables = 16, dim = Dim))
    val quant = QuantIndex.build(c.spark, df, s"${c.dir}/scan-quant",
      QuantConfig(ivfCells = 16, tiers = Set(QuantTier.Pq)))
    val flat = corpus.flat()
    val r = new SplittableRandom(Gauss.mix(c.seed, 909))
    def query() = Gauss.noisy(corpus.vector(r.nextInt(ScanN).toLong), r, 0.05)
    def trueDist(q: Array[Double])(id: Long) =
      if (id >= 0 && id < ScanN) Some(Oracle.dist(flat, id.toInt * Dim, q)) else None
    (1 to 3).foreach { i =>
      val q = query()
      c.check.exact(s"scan exact $i", c.search("scan.exact",
        lsh.search(q, K, lsh.model.numBuckets)), Oracle.topK(flat, Dim, q, K))
      val pq = query()
      val got = t.span("scan.pq") {
        val cands = t.span("quant.coarse")(quant.coarsePq(pq, 100)
          .select(col("id"), col("cell").cast("int")).collect())
        t.span("quant.rerank")(
          quant.exactDistPaired(cands.map(x => (x.getLong(0), x.getInt(1))).toSeq, pq)
            .orderBy(col("dist"), col("id")).limit(K).collect())
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      }
      c.check.approx(s"scan pq $i", got, K, Oracle.topK(flat, Dim, pq, K), trueDist(pq))
    }
    val exact = t.named("scan.exact")
    c.layer("kernel.l2_ns_per_vector_dim") =
      Layers.runNs(c, exact) / (exact.size.toDouble * ScanN * Dim)
    val coarse = t.named("quant.coarse")
    c.layer("kernel.adc_ns_per_code") =
      Layers.runNs(c, coarse) / (coarse.size.toDouble * ScanN)
    c.layer("quant.coarse_ms") = Layers.meanMs(coarse)
    c.layer("quant.rerank_ms") = Layers.meanMs(t.named("quant.rerank"))
    val q = query()
    c.layer("kernel.floor_ns_per_vector_dim") =
      Layers.medianMs(3)(Oracle.topK(flat, Dim, q, K)) * 1e6 / (ScanN.toDouble * Dim)
    val files = FileLog.read(lsh.path).files
    val decodeMs = Layers.medianMs(3)(c.spark.read.parquet(files: _*)
      .select("embedding").write.format("noop").mode("overwrite").save())
    c.layer("scan.decode_mb_per_s") = ScanN.toDouble * Dim * 4 / 1e6 / (decodeMs / 1e3)
  }
}
