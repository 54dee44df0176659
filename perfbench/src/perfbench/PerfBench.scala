package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.index.{Compactor, IndexBuilder, IndexDeleter, IndexMerger, IndexStore}
import graft.model.DocKey
import graft.search.{QueryParser, Searcher}
import graft.util.Jsonl
import graft.verify.IndexCheck

/** The repository benchmark: one seeded workload per run against the
  * engine's public API, end-to-end metrics untraced, per-layer metrics from
  * a separate traced run.
  *
  * Usage: `PerfBench --workload ingest|search
  *   --seed N --seconds S --trace 0|1 --work DIR --out DIR`
  *
  * The last line of standard output is the result object; human-readable
  * lines before it carry every metric by name with its unit, the seed, the
  * corpus size, the operation mix and the host settings. The exit code is
  * non-zero when any answer was wrong. */
object PerfBench {
  // Corpus shape: small enough that set-up, the timed window and the
  // reference checks of one run fit in well under a minute on 4 vCPUs.
  val BaseConvs = 1000
  val BatchConvs = 60
  val Batches = 4
  val Merges = 2
  val SetupReps = 5
  val TopkPool = 256
  val WarmupQueries = 24
  val TopkPerBlock = 6
  val Checks = 8

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = req("workload")
    require(Set("ingest", "search")(w), s"unknown workload $w")
    Args(w, req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath)
  }

  /** `threads` executor threads; shuffle partitions stay at `cpus`. */
  def session(threads: Int, cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val started = System.nanoTime()
    Files.createDirectories(a.work)
    val spark = session(cpus, cpus, a.work)
    val sessionS = (System.nanoTime() - started) / 1e9
    val b = new Bench(spark, a, cpus)
    val ok =
      try { b.run(sessionS); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
      finally { SparkSession.getActiveSession.foreach(_.stop()); spark.stop() }
    deleteRecursive(a.work)
    if (!ok) sys.exit(2)
    b.report()
    sys.exit(if (b.correct) 0 else 1)
  }
}

final class Bench(spark: SparkSession, a: PerfBench.Args, cpus: Int) {
  import PerfBench._

  private val tr = new Tracer(spark.sparkContext, a.trace)
  private val layer = new LayerSamples
  private val corpus = new Corpus(a.seed, BaseConvs, BatchConvs, Batches)
  private val clients = math.min(4, cpus)

  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def correct: Boolean = failed.get == 0

  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.LinkedHashMap.empty[String, String]
  // primary latency samples of the untraced and traced halves of a traced run
  private val primary = Array(ArrayBuffer.empty[Double], ArrayBuffer.empty[Double])

  private def now: Double = System.nanoTime() / 1e9
  private var lastMark = now
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  /** Wall since the previous mark, reported with the run's info. */
  private def mark(phase: String): Unit = {
    val t = now; phases(phase) = t - lastMark; lastMark = t
  }
  private def q(s: String) = "\"" + Jsonl.esc(s) + "\""

  private def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }

  /** One counted operation: its result and wall time, None if it threw. */
  private def attempt[T](what: String)(f: => T): Option[(T, Double)] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = f
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch { case NonFatal(e) => fail(s"$what threw $e"); None }
  }

  /** A correctness check, run untimed: a failed one counts as a wrong answer. */
  private var checkSecs = 0.0
  private def check(what: String)(problem: => Option[String]): Unit = {
    val t0 = now
    try problem.foreach(p => fail(s"$what: $p"))
    catch { case NonFatal(e) => fail(s"$what: check threw $e") }
    checkSecs += now - t0
  }

  // ---- writer operations ---------------------------------------------------

  private def manifest(root: String): Seq[Map[String, String]] = {
    val st = new IndexStore(root)
    val p = Paths.get(st.snapshotDir(st.currentVersion.get), "manifest.jsonl")
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map(Jsonl.parse).toSeq
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def versionBytes(root: String): Long = {
    val st = new IndexStore(root)
    dirBytes(Paths.get(st.snapshotDir(st.currentVersion.get)))
  }

  /** Run one writer call (build, merge or compact) as a counted operation;
    * traced, record its stage walls from the snapshot manifest and its Spark
    * counters. */
  private def writer[T](kind: String, root: String, batchBytes: Long = 0L)(f: => T)
      : Option[(T, Double)] = {
    val r = attempt(s"index.$kind")(tr.op(s"index.$kind")(f))
    r.foreach { case ((_, counters), wall) =>
      counters.foreach { c =>
        val pre = s"index.$kind"
        val lines = manifest(root)
        lines.foreach(l => layer.add(s"$pre.${l("stage")}_s", l("millis").toDouble / 1000))
        layer.add(s"$pre.jobs", c.jobs.get.toDouble)
        kind match {
          case "build" =>
            layer.add(s"$pre.max_task_shuffle_read_mb", lines.flatMap(
              _.get("max_task_shuffle_read_mb")).map(_.toDouble).maxOption.getOrElse(0.0))
            layer.add(s"$pre.shuffle_write_mb", c.shuffleWrite.get / 1e6)
            layer.add(s"$pre.spill_mb", c.spillBytes.get / 1e6)
            layer.add(s"$pre.tasks", c.tasks.get.toDouble)
            layer.add(s"$pre.cpu_busy_frac", c.cpuNanos.get / 1e9 / (wall * cpus))
          case "merge" =>
            layer.add(s"$pre.old_bytes_read", c.inputBytes.get / 1e6)
            if (batchBytes > 0) layer.add(s"$pre.write_amp", versionBytes(root).toDouble / batchBytes)
          case _ =>
            layer.add(s"$pre.bytes_rewritten_mb", versionBytes(root) / 1e6)
        }
      }
    }
    r.map { case ((v, _), wall) => (v, wall) }
  }

  private val knownDefects = mutable.LinkedHashSet.empty[String]

  /** IndexCheck over the committed snapshot; any violation is a wrong
    * answer. One exception, a defect of the engine rather than of the
    * commit: compaction keeps doc ids while purging tombstoned docs, so
    * after a purging compaction `docs_ids_dense` always reports the gaps.
    * That one is reported as a known defect and not counted. */
  private def healthy(root: String, what: String, purged: Boolean = false): Unit =
    check(s"IndexCheck after $what") {
      val bad = IndexCheck.run(spark, new IndexStore(root)).collect()
        .filter(_.getLong(1) > 0).map(r => (r.getString(0), r.getLong(1)))
      val (known, real) = bad.partition(b => purged && b._1 == "docs_ids_dense")
      known.foreach(k => knownDefects += s"IndexCheck ${k._1} fails after a compaction that purges tombstones")
      if (real.isEmpty) None
      else Some(real.map { case (n, v) => s"$n=$v" }.mkString("violations ", ", ", ""))
    }

  private def storeStats(root: String): (Int, Long, Int, Long) = {
    val st = new IndexStore(root)
    val v = st.currentVersion.get
    val ls = st.layers(v)
    val dirs = ls.flatMap(l => Seq(l.docs, l.docStats, l.postings, l.dict) ++ l.deleted)
      .distinct.map(rel => Paths.get(root).resolve(rel))
    val files = dirs.filter(Files.exists(_)).map(d => Files.walk(d).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))).sum
    val tomb = st.deletedIdsAt(spark, v).map(_.count()).getOrElse(0L)
    (ls.length, tomb, files, dirs.map(dirBytes).sum)
  }

  private def recordStore(root: String): Unit = if (tr.active) {
    val (layers, tomb, files, bytes) = storeStats(root)
    layer.add("index.store.layers", layers)
    layer.add("index.store.tombstones", tomb.toDouble)
    layer.add("index.store.files", files)
    layer.add("index.store.snapshot_mb", bytes / 1e6)
  }

  // ---- search operations ---------------------------------------------------

  private final class OpFrames { val dfs = ArrayBuffer.empty[DataFrame] }
  private val totalParts = mutable.Map.empty[(String, Int), Long]

  /** One engine call inside a search operation: parse, plan (DataFrame
    * construction plus the physical plan) and execute (collect). */
  private def call(kind: String, query: String, of: OpFrames)(mk: => DataFrame): Array[Row] = {
    if (tr.active) tr.span(s"search.$kind.parse")(QueryParser.parse("(" + query + ")", false))
    val df = tr.span(s"search.$kind.plan") { val d = mk; d.queryExecution.executedPlan; d }
    val rows = tr.span(s"search.$kind.exec")(df.collect())
    if (tr.active) of.dfs += df
    rows
  }

  /** One search operation, timed; traced, its per-layer counters recorded. */
  private def search[T](kind: String, root: String)(f: OpFrames => T): Option[(T, Double)] = {
    val of = new OpFrames
    val r = attempt(s"search.$kind")(tr.op(s"search.$kind")(f(of)))
    r.foreach { case ((_, counters), _) => counters.foreach { c =>
      layer.add(s"search.$kind.jobs", c.jobs.get.toDouble)
      layer.add(s"search.$kind.tasks", c.tasks.get.toDouble)
      layer.add(s"search.$kind.exchanges", Plans.exchanges(of.dfs.toSeq).toDouble)
      layer.add(s"search.$kind.input_mb", c.inputBytes.get / 1e6)
      layer.add(s"search.$kind.shuffle_mb", c.shuffleWrite.get / 1e6)
      layer.add(s"spark.$kind.queue_wait_s", c.queueWaitMillis.get / 1e3)
      layer.add(s"spark.$kind.sched_delay_s", c.schedDelayMillis.get / 1e3)
      layer.add(s"spark.$kind.gc_s", c.gcMillis.get / 1e3)
      val st = new IndexStore(root)
      val v = st.currentVersion.get
      val parts = totalParts.getOrElseUpdate((root, v), st.postingsAt(spark, v).count())
      if (kind != "phrase" && parts > 0)
        layer.add("search.postings_parts_scanned_frac",
          Plans.scannedRows(of.dfs.toSeq, "/postings").toDouble / parts)
      if (kind == "phrase")
        layer.add("search.phrase.corpus_rows_read",
          Plans.scannedRows(of.dfs.toSeq, "/corpus").toDouble)
    } }
    r.map { case ((v, _), wall) => (v, wall) }
  }

  /** Untimed probes of query expansion: dictionary words per search word
    * and the row count of the matched postings, each a separate action. */
  private def probe(s: Searcher, query: String): Unit = if (tr.active) {
    val words = QueryParser.parse("(" + query + ")", false).searchWords
    if (words.nonEmpty) tr.op("search.probe") {
      val mw = s.matchedWords(words)
      layer.add("search.dict_words_per_term", mw.count().toDouble / words.length)
      layer.add("search.postings_rows", s.matchedPostings(mw).count().toDouble)
    }
  }

  private def keyScore(rows: Array[Row]): Seq[(DocKey, Double)] =
    rows.toSeq.map(r => (DocKey(r.getString(0), r.getInt(1)), r.getDouble(2)))
  private def keyCount(rows: Array[Row]): Seq[(DocKey, Long)] =
    rows.toSeq.map(r => (DocKey(r.getString(0), r.getInt(1)), r.getLong(2)))

  private def topkOp(s: Searcher, root: String, query: String) =
    search("topk", root)(of => keyScore(call("topk", query, of)(s.searchBm25(query, 10))))
  private def boolCountOp(s: Searcher, root: String, query: String) =
    search("bool_count", root)(of => keyCount(call("bool_count", query, of)(s.searchCount(query))))
  private def boolBm25Op(s: Searcher, root: String, query: String) =
    search("bool_bm25", root)(of => keyScore(call("bool_bm25", query, of)(s.searchBm25(query, 10))))
  private def phraseOp(s: Searcher, root: String, all: => org.apache.spark.sql.Dataset[graft.model.Turn],
      phrase: String) =
    search("phrase", root)(of => keyCount(call("phrase", phrase, of)(s.searchPhrase(all, phrase))))
  private def page2Op(s: Searcher, root: String, query: String) =
    search("page2", root) { of =>
      val p1 = keyScore(call("page2", query, of)(s.searchBm25Page(query, 10)))
      val after = p1.lastOption.map { case (k, _) => (k.conv_id, k.turn_idx) }
      p1 ++ (if (after.isEmpty) Nil
             else keyScore(call("page2", query, of)(s.searchBm25Page(query, 10, after))))
    }

  // ---- set-up ----------------------------------------------------------------

  /** Run the workload's set-up SetupReps times, keep the last, report the
    * median wall as setup_s. */
  private def setups[T](body: Int => T)(discard: T => Unit): T = {
    val walls = ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until SetupReps).foreach { r =>
      last.foreach(discard)
      val t0 = now
      last = Some(body(r))
      walls += now - t0
    }
    e2e("setup_s") = (Stats.median(walls.toSeq), "s")
    info("setup_walls_s") = walls.map(w => f"$w%.4f").mkString("[", ",", "]")
    mark("setup")
    last.get
  }

  private def dataDir(r: Int) = a.work.resolve(s"corpus-$r").toString
  private def indexDir(name: String) = a.work.resolve(s"index-$name").toString

  private def must[T](o: Option[(T, Double)], what: String): (T, Double) =
    o.getOrElse(throw new IllegalStateException(s"set-up step failed: $what"))

  private def queryGen(root: String, nBatches: Int): QueryGen = {
    import spark.implicits._
    val dict = new IndexStore(root).dict(spark).select($"term", $"df").as[(String, Long)].collect()
    val live = (corpus.base ++ corpus.batch.take(nBatches).flatten)
      .filterNot(corpus.isDeleted).filter(t => Option(t.text).exists(_.trim.nonEmpty)).toIndexedSeq
    new QueryGen(dict, live, corpus.docFreq)
  }

  // ---- workloads ---------------------------------------------------------------

  def run(sessionS: Double): Unit = {
    info("session_start_s") = f"$sessionS%.3f"
    a.workload match {
      case "ingest" => ingest()
      case "search" => search()
    }
    if (a.trace) scaling()
  }

  /** Run `loop` for the whole window untraced, or — in a traced run — for
    * half the window untraced and half traced, recording the overhead as
    * traced over untraced median of the primary operation. */
  private def timed(loop: (Double, ArrayBuffer[Double]) => Unit): Unit =
    if (!a.trace) loop(a.seconds, primary(0))
    else {
      tr.active = false
      loop(a.seconds / 2, primary(0))
      tr.active = true
      loop(a.seconds / 2, primary(1))
      if (primary(0).nonEmpty && primary(1).nonEmpty)
        layer.add("trace.overhead_frac",
          Stats.median(primary(1).toSeq) / Stats.median(primary(0).toSeq) - 1)
    }

  private def ingest(): Unit = {
    import spark.implicits._
    val data = setups(r => { corpus.write(spark, dataDir(r), cpus); dataDir(r) })(d =>
      deleteRecursive(Paths.get(d)))
    val baseTurns = corpus.base.length
    val batchTurns = corpus.batch.take(Merges).map(_.length)
    val liveTurns = (corpus.base ++ corpus.batch.take(Merges).flatten).count(t => !corpus.isDeleted(t))
    val liveBytes = corpus.textBytes((corpus.base ++ corpus.batch.take(Merges).flatten)
      .filterNot(corpus.isDeleted))
    // the query after each merge must find a turn of that batch: three of a
    // batch turn's rarest words, OR'd
    val freshQ = (0 until Merges).map { i =>
      val r = new scala.util.Random(a.seed * 31 + i)
      val ts = corpus.batch(i).filter(t => graft.tokenize.Tokenizer.tokenSet(t.text).size >= 3)
      val t = ts(r.nextInt(ts.length))
      graft.tokenize.Tokenizer.tokenSet(t.text).toSeq
        .sortBy(w => (corpus.docFreq(w), w)).take(3).map("\"" + _ + "\"").mkString(" ")
    }
    val buildRate = ArrayBuffer.empty[Double]; val merges = ArrayBuffer.empty[Double]
    val fresh = ArrayBuffer.empty[Double]; val compacts = ArrayBuffer.empty[Double]
    val ratio = ArrayBuffer.empty[Double]
    var cycles = 0
    var lastRoot = ""

    def cycle(commits: ArrayBuffer[Double]): Unit = {
      val root = indexDir(s"ingest-$cycles")
      val first = cycles == 0
      cycles += 1
      if (lastRoot.nonEmpty) deleteRecursive(Paths.get(lastRoot))
      lastRoot = root
      val built = writer("build", root)(IndexBuilder.build(spark, corpus.baseDs(spark, data), root))
      if (built.isEmpty) return
      buildRate += baseTurns / built.get._2
      (0 until Merges).foreach { i =>
        val m = writer("merge", root, corpus.textBytes(corpus.batch(i)))(
          IndexMerger.merge(spark, corpus.batchDs(spark, data, i), root))
        if (m.isEmpty) return
        if (first && i == Merges - 1) healthy(root, s"merge $i")
        val f = search("fresh", root) { of =>
          val s = tr.span("search.open")(new Searcher(spark, new IndexStore(root)))
          try keyScore(call("fresh", freshQ(i), of)(s.searchBm25(freshQ(i), 10)))
          finally s.close()
        }
        if (f.isEmpty) return
        val batchKeys = corpus.batch(i).map(t => DocKey(t.conv_id, t.turn_idx)).toSet
        check(s"fresh query after merge $i")(
          if (f.get._1.exists(h => batchKeys(h._1))) None
          else Some(s"no turn of the batch in the top 10 of ${freshQ(i)}"))
        merges += m.get._2; fresh += f.get._2
        commits += m.get._2 + f.get._2
      }
      recordStore(root)
      val d = attempt("index.delete")(tr.span("index.delete")(
        IndexDeleter.delete(spark, root, corpus.deletedConvs.toDF("conv_id"))))
      if (d.isEmpty) return
      val c = writer("compact", root)(Compactor.compact(spark, root))
      if (c.isEmpty) return
      compacts += c.get._2
      if (first) healthy(root, "compact", purged = true)
      check("document count after compaction")({
        val n = new IndexStore(root).currentMeta.numDocs
        if (n == liveTurns) None else Some(s"$n docs, expected $liveTurns")
      })
      val (_, _, _, bytes) = storeStats(root)
      ratio += bytes.toDouble / liveBytes
    }

    timed { (secs, commits) =>
      val end = now + secs
      do cycle(commits) while (now < end)
    }
    mark("timed_and_checks")
    if (a.trace) sweep(lastRoot, Merges, data)
    deleteRecursive(Paths.get(lastRoot))

    e2e("op_p50_s") = (med(primary(0)), "s")
    e2e("op2_s") = (med(compacts), "s")
    e2e("rate_per_s") = (med(buildRate), "1/s")
    named("build_turns_per_s") = (med(buildRate), "turns/s")
    named("merge_p50_s") = (med(merges), "s")
    named("fresh_query_p50_s") = (med(fresh), "s")
    named("compact_s") = (med(compacts), "s")
    named("index_bytes_per_text_byte") = (med(ratio), "ratio")
    info("ingest") = s"""{"cycles":$cycles,"base_turns":$baseTurns,""" +
      s""""batch_turns":${batchTurns.mkString("[", ",", "]")},""" +
      s""""deleted_convs":${corpus.deletedConvs.length},"live_text_bytes":$liveBytes,""" +
      s""""fresh_queries":${freshQ.map(q).mkString("[", ",", "]")}}"""
  }

  private def med(xs: ArrayBuffer[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)

  /** The read workload, on a built index with tombstones (a build, then a
    * delete; layered reads are timed by ingest's query after each merge):
    * a warmed Searcher answers single-client and 4-client BM25 top-10 (the
    * WAND path); a second, cold Searcher answers the structured mix
    * (boolean algebra, phrase confirm against the corpus, page-2 walks). */
  private def search(): Unit = {
    import spark.implicits._
    val data = dataDir(0)
    val root = indexDir("search")
    corpus.write(spark, data, cpus)
    must(writer("build", root)(IndexBuilder.build(spark, corpus.baseDs(spark, data), root)), "build")
    tr.span("index.delete")(must(attempt("index.delete")(
      IndexDeleter.delete(spark, root, corpus.deletedConvs.toDF("conv_id"))), "delete"))
    mark("prepare")
    val (topS, structS) = setups { _ =>
      val t = tr.span("search.open")(new Searcher(spark, new IndexStore(root)))
      tr.span("search.warm")(t.warm(includeDocs = true))
      (t, tr.span("search.open")(new Searcher(spark, new IndexStore(root))))
    } { case (t, s) => t.close(); s.close() }
    val all = corpus.allDs(spark, data, 0)
    val gen = queryGen(root, 0)

    // top-k: a seeded pool drawn by df band, issued with Zipf popularity
    val poolRnd = new scala.util.Random(a.seed * 7 + 1)
    val pool = Iterator.continually(gen.topk(poolRnd)).distinct.take(TopkPool).toIndexedSeq
    val zipf = new Zipf(pool.length)
    val answers = new java.util.concurrent.ConcurrentHashMap[String, Seq[(DocKey, Double)]]()
    val issued = new AtomicLong
    val distinct = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def topk(query: String, lat: ArrayBuffer[Double]): Unit = {
      issued.incrementAndGet(); distinct.add(query)
      topkOp(topS, root, query).foreach { case (res, w) =>
        lat.synchronized(lat += w)
        val prev = answers.putIfAbsent(query, res)
        if (prev != null && prev != res)
          check(s"repeat of $query")(Check.ranked(res, prev, 10))
      }
    }
    // the first queries after warm() run slower (JIT, codegen cache): warm
    // up from every client thread, then run one query of each structured
    // kind on the warmed top-k Searcher, so the JVM is warm for the mix
    // while the structured Searcher's own caches stay cold
    val warmers = (0 until clients).map { c =>
      val rc = new scala.util.Random(a.seed * 7 + 2 + 1000L * c)
      new Thread(() => (0 until WarmupQueries / clients).foreach(_ =>
        topS.searchBm25(pool(zipf.next(rc)), 10).collect()))
    }
    warmers.foreach(_.start()); warmers.foreach(_.join())
    val warmRnd = new scala.util.Random(a.seed * 7 + 2)
    topS.searchCount(gen.bool(warmRnd)).collect()
    topS.searchBm25(gen.bool(warmRnd), 10).collect()
    topS.searchPhrase(all, gen.phrase(warmRnd)).collect()
    topS.searchBm25Page(gen.page(warmRnd), 10).collect()
    mark("queries_and_warmup")

    // structured: rounds of one boolean count, one boolean BM25, one phrase
    // and one page-2 walk, in a seeded order
    val opRnd = new scala.util.Random(a.seed * 13 + 1)
    val rounds = (0 until 100).map(_ => opRnd.shuffle(Seq("bool_count", "bool_bm25", "phrase", "page2")).map {
      case k @ ("bool_count" | "bool_bm25") => (k, gen.bool(opRnd))
      case "phrase" => ("phrase", gen.phrase(opRnd))
      case k => (k, gen.page(opRnd))
    })
    def structured(kind: String, query: String): Option[(Any, Double)] = kind match {
      case "bool_count" => boolCountOp(structS, root, query)
      case "bool_bm25" => boolBm25Op(structS, root, query)
      case "phrase" => phraseOp(structS, root, all, query)
      case _ => page2Op(structS, root, query)
    }

    val lat = mutable.Map.empty[String, ArrayBuffer[Double]]
    val results = ArrayBuffer.empty[(String, String, Any)]
    val qps = ArrayBuffer.empty[Double]
    var clientSeed = a.seed * 1000
    val roundMean = ArrayBuffer.empty[Double]
    var t4c = 0.0
    var n4c = 0L
    var ops = 0
    timed { (secs, topkLat) =>
      // Interleaved blocks — six single-client top-k queries, 1.5 s of
      // 4-client top-k, half a round of the structured mix — so a burst of
      // load from outside the run touches every metric a little rather
      // than one phase wholly. At least two whole structured rounds.
      val r1 = new scala.util.Random(clientSeed); clientSeed += 1
      val end = now + secs
      val first = ops
      while (now < end || ops - first < 8 || ops % 4 != 0) {
        (0 until TopkPerBlock).foreach(_ => topk(pool(zipf.next(r1)), topkLat))
        val done = new AtomicLong
        val sink = ArrayBuffer.empty[Double]
        val t0 = now
        val until = t0 + 1.5
        val threads = (0 until clients).map { c =>
          val rc = new scala.util.Random(clientSeed * 10 + c)
          new Thread(() => while (now < until) { topk(pool(zipf.next(rc)), sink); done.incrementAndGet() })
        }
        clientSeed += 1
        threads.foreach(_.start()); threads.foreach(_.join())
        if (!tr.active) { t4c += now - t0; n4c += done.get }
        (0 until 2).foreach { _ =>
          val (kind, query) = rounds(ops / 4 % rounds.length)(ops % 4)
          structured(kind, query).foreach { case (res, w) =>
            lat.getOrElseUpdate(kind, ArrayBuffer.empty) += w
            lat.getOrElseUpdate("round", ArrayBuffer.empty) += w
            if (!tr.active) results += ((kind, query, res))
          }
          ops += 1
          if (ops % 4 == 0) {
            val r = lat.getOrElse("round", ArrayBuffer.empty)
            if (!tr.active && r.length == 4) roundMean += r.sum / 4
            lat.remove("round")
          }
        }
      }
    }
    qps += n4c / math.max(t4c, 1e-9)
    mark("timed")
    info("topk") = s"""{"samples":${primary(0).length},"pool":${pool.length},""" +
      f""""repeat_share":${1 - distinct.size.toDouble / math.max(1L, issued.get)}%.4f,""" +
      f""""hot_word_share":${gen.hotShare(pool.flatMap(_.split(' ')).map(_.replace("\"", "")))}%.4f}"""
    info("structured") = """{"mix":{"bool_count":0.25,"bool_bm25":0.25,"phrase":0.25,"page2":0.25},""" +
      lat.map { case (k, v) => s"${q(k)}:${v.length}" }.mkString("\"samples\":{", ",", "},") +
      s""""rounds":${roundMean.length}}"""

    // reference answers, untimed: the in-memory oracle over the same
    // commits, tombstoned keys masked (collection statistics stay as of
    // the commit, as in the engine); phrases by a naive scan of the live
    // turns. Every repeated top-k query was also compared with its first
    // answer as it ran.
    val checkRnd = new scala.util.Random(a.seed * 7 + 3)
    val (oracle, dead) = corpus.oracle(0)
    def oracleTop(query: String, k: Int) =
      oracle.searchBm25(query, k + dead.size).filterNot(h => dead(h._1)).take(k)
    checkRnd.shuffle(answers.keySet.asScala.toSeq.sorted).take(Checks).foreach { query =>
      check(s"topk $query")(Check.ranked(answers.get(query), oracleTop(query, 10), 10))
    }
    val liveTurns = corpus.base.filterNot(corpus.isDeleted)
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (kind, rs) =>
      checkRnd.shuffle(rs.toSeq).take(Checks / 2).foreach { case (_, query, res) =>
        check(s"$kind $query")(kind match {
          case "bool_count" =>
            Check.counts(res.asInstanceOf[Seq[(DocKey, Long)]],
              oracle.searchCount(query).filterNot(h => dead(h._1)))
          case "bool_bm25" =>
            Check.ranked(res.asInstanceOf[Seq[(DocKey, Double)]], oracleTop(query, 10), 10)
          case "page2" =>
            Check.ranked(res.asInstanceOf[Seq[(DocKey, Double)]], oracleTop(query, 20), 20)
          case _ =>
            val words = query.split(' ').toSeq
            Check.counts(res.asInstanceOf[Seq[(DocKey, Long)]],
              liveTurns.map(t => (DocKey(t.conv_id, t.turn_idx), Check.phraseCount(t.text, words).toLong))
                .filter(_._2 > 0))
        })
      }
    }
    mark("checks")
    if (a.trace) sweep(root, 0, data, Some(topS))
    topS.close(); structS.close()

    def kindMed(ks: String*) = med(ArrayBuffer.from(ks.flatMap(k => lat.getOrElse(k, Nil))))
    def p90(xs: Iterable[Double]) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs.toSeq, 0.9)
    e2e("op_p50_s") = (med(primary(0)), "s")
    e2e("op2_s") = (med(roundMean), "s")
    e2e("rate_per_s") = (med(qps), "1/s")
    named("topk_p50_s") = (med(primary(0)), "s")
    named("topk_p90_s") = (p90(primary(0)), "s")
    named("topk_qps_4c") = (med(qps), "q/s")
    named("bool_p50_s") = (kindMed("bool_count", "bool_bm25"), "s")
    named("phrase_p50_s") = (kindMed("phrase"), "s")
    named("page2_p50_s") = (kindMed("page2"), "s")
    named("struct_mean_s") = (med(roundMean), "s")
    named("struct_p90_s") = (p90(Seq("bool_count", "bool_bm25", "phrase", "page2").flatMap(k => lat.getOrElse(k, Nil))), "s")
  }

  // ---- traced run: the layer sweep -------------------------------------------

  /** Traced calls into every layer the workload itself did not reach, so
    * each workload's traced run reports every per-layer metric: tokenize
    * alone, query-expansion probes, each search operation type not yet
    * measured, and — when the workload ran no merge — a merge with its
    * fresh query, a delete and a compaction on the workload's index. */
  private def sweep(root: String, merged: Int, data: String,
      existing: Option[Searcher] = None): Unit = {
    import spark.implicits._
    tr.active = true
    val base = corpus.baseDs(spark, data)
    (0 until 3).foreach(_ => tr.op("tokenize")(
      IndexBuilder.tokenize(base).write.format("noop").mode("overwrite").save()))
    val s = existing.getOrElse(tr.span("search.open")(new Searcher(spark, new IndexStore(root))))
    tr.span("search.warm")(s.warm(includeDocs = true))
    val gen = queryGen(root, merged)
    val r = new scala.util.Random(a.seed * 17)
    val all = corpus.allDs(spark, data, merged)
    def missing(kind: String) = layer.get(s"search.$kind.jobs").isEmpty
    val todo = Seq("topk", "bool_count", "bool_bm25", "phrase", "page2").filter(missing)
    (0 until 2).foreach { _ =>
      val tq = gen.topk(r); probe(s, tq)
      val bq = gen.bool(r); probe(s, bq)
      todo.foreach {
        case "topk" => topkOp(s, root, tq)
        case "bool_count" => boolCountOp(s, root, bq)
        case "bool_bm25" => boolBm25Op(s, root, gen.bool(r))
        case "phrase" => phraseOp(s, root, all, gen.phrase(r))
        case _ => page2Op(s, root, gen.page(r))
      }
    }
    if (existing.isEmpty) s.close()
    if (layer.get("index.store.layers").isEmpty) recordStore(root)
    if (missing("fresh")) {
      val extra = Batches - 1
      writer("merge", root, corpus.textBytes(corpus.batch(extra)))(
        IndexMerger.merge(spark, corpus.batchDs(spark, data, extra), root))
      val fq = "\"" + graft.tokenize.Tokenizer.tokens(corpus.batch(extra).head.text).head + "\""
      search("fresh", root) { of =>
        val fs = tr.span("search.open")(new Searcher(spark, new IndexStore(root)))
        try call("fresh", fq, of)(fs.searchBm25(fq, 10)).length finally fs.close()
      }
      attempt("index.delete")(tr.span("index.delete")(IndexDeleter.delete(spark, root,
        Seq(corpus.batch(extra).head.conv_id).toDF("conv_id"))))
      writer("compact", root)(Compactor.compact(spark, root))
    }
  }

  /** The base build at local[1] against the same build at local[cpus],
    * both in a warm JVM at the end of the run: the scaling figure
    * (time at one thread over time at all), measured rather than assumed. */
  private def scaling(): Unit = {
    val data = a.work.resolve("scaling-corpus").toString
    corpus.write(spark, data, cpus)
    def timedBuild(s: SparkSession, name: String): Double = {
      val t0 = now
      IndexBuilder.build(s, corpus.baseDs(s, data), indexDir(name))
      now - t0
    }
    val wallN = timedBuild(spark, "scaling-n")
    spark.stop()
    val one = PerfBench.session(1, cpus, a.work)
    try layer.add("index.build.scaling_1to4", timedBuild(one, "scaling-1") / wallN)
    finally one.stop()
  }

  // ---- report ------------------------------------------------------------------

  private val searchKinds = Seq("topk", "bool_count", "bool_bm25", "phrase", "page2", "fresh")

  /** Every per-layer metric, in BENCHMARK.json order, with its unit. */
  private def layerMetrics: Seq[(String, Double, String)] = {
    def l(n: String) = layer.get(n).getOrElse(0.0)
    def spanMed(n: String) = { val xs = tr.perOp(n); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    val self = tr.selfTimes
    def selfOf(prefix: String) = self.collect { case (n, s) if n.startsWith(prefix + ".") || n == prefix => s }.sum
    val tok = spanMed("tokenize")
    Seq(("tokenize.turns_per_s", if (tok > 0) corpus.base.length / tok else 0.0, "turns/s")) ++
      Seq("prep", "docs", "doc_stats", "hot_terms", "postings", "dict").map(st =>
        (s"index.build.${st}_s", l(s"index.build.${st}_s"), "s")) ++
      Seq(("index.build.shuffle_write_mb", "MB"), ("index.build.spill_mb", "MB"),
        ("index.build.max_task_shuffle_read_mb", "MB"), ("index.build.jobs", "count"),
        ("index.build.tasks", "count"), ("index.build.cpu_busy_frac", "ratio"),
        ("index.build.scaling_1to4", "ratio")).map { case (n, u) => (n, l(n), u) } ++
      Seq("batch_prep", "docs", "doc_stats", "segment", "postings", "dict").map(st =>
        (s"index.merge.${st}_s", l(s"index.merge.${st}_s"), "s")) ++
      Seq(("index.merge.write_amp", "ratio"), ("index.merge.old_bytes_read", "MB"),
        ("index.merge.jobs", "count")).map { case (n, u) => (n, l(n), u) } ++
      Seq(("index.delete_s", spanMed("index.delete"), "s")) ++
      Seq("docs", "doc_stats", "postings", "dict").map(st =>
        (s"index.compact.${st}_s", l(s"index.compact.${st}_s"), "s")) ++
      Seq(("index.compact.bytes_rewritten_mb", l("index.compact.bytes_rewritten_mb"), "MB"),
        ("index.store.layers", l("index.store.layers"), "count"),
        ("index.store.tombstones", l("index.store.tombstones"), "count"),
        ("index.store.files", l("index.store.files"), "count"),
        ("index.store.snapshot_mb", l("index.store.snapshot_mb"), "MB")) ++
      searchKinds.flatMap { k =>
        Seq((s"search.$k.parse_s", spanMed(s"search.$k.parse"), "s"),
          (s"search.$k.plan_s", spanMed(s"search.$k.plan"), "s"),
          (s"search.$k.exec_s", spanMed(s"search.$k.exec"), "s")) ++
          Seq(("jobs", "count"), ("tasks", "count"), ("exchanges", "count"),
            ("input_mb", "MB"), ("shuffle_mb", "MB")).map { case (n, u) =>
            (s"search.$k.$n", l(s"search.$k.$n"), u) }
      } ++
      Seq(("search.dict_words_per_term", l("search.dict_words_per_term"), "ratio"),
        ("search.postings_parts_scanned_frac", l("search.postings_parts_scanned_frac"), "ratio"),
        ("search.postings_rows", l("search.postings_rows"), "count"),
        ("search.phrase.corpus_rows_read", l("search.phrase.corpus_rows_read"), "count"),
        ("search.open_s", spanMed("search.open"), "s"),
        ("search.warm_s", spanMed("search.warm"), "s")) ++
      searchKinds.flatMap(k => Seq("queue_wait_s", "sched_delay_s", "gc_s").map(n =>
        (s"spark.$k.$n", l(s"spark.$k.$n"), "s"))) ++
      Seq(("tokenize.self_s", selfOf("tokenize"), "s"),
        ("index.self_s", selfOf("index"), "s"),
        ("search.self_s", selfOf("search"), "s"),
        ("trace.overhead_frac", l("trace.overhead_frac"), "ratio"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def report(): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    info("seed") = a.seed.toString
    info("workload") = q(a.workload)
    info("corpus") = s"""{"base_convs":$BaseConvs,"base_turns":${corpus.base.length},""" +
      s""""batch_convs":$BatchConvs,"batches":$Batches,"conv_offset":${corpus.offset},""" +
      s""""base_text_bytes":${corpus.textBytes(corpus.base)}}"""
    info("host") = s"""{"cpus":$cpus,"clients":$clients,""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""jvm_flags":${rt.getInputArguments.asScala.map(q).mkString("[", ",", "]")}}"""
    mark("rest")
    phases("of_which_checks") = checkSecs
    info("phase_s") = phases.map { case (k, v) => f"${q(k)}:$v%.3f" }.mkString("{", ",", "}")
    info("unattributed_jobs") = tr.listener.unattributedJobs.get.toString
    println(info.map { case (k, v) => s"${q(k)}:$v" }.mkString("{\"info\":{", ",", "}}"))
    failures.asScala.foreach(f => println(s"# WRONG: $f"))
    knownDefects.foreach(d => println(s"# KNOWN DEFECT: $d"))
    val frac = failed.get.toDouble / math.max(1L, attempted.get)
    println(f"# ${a.workload} failed_frac ${frac}%.6f ratio (${failed.get}/${attempted.get})")
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) {
        val lm = layerMetrics
        lm.foreach { case (n, v, u) => println(s"# ${a.workload} $n ${num(v)} $u") }
        tr.selfTimes.toSeq.sortBy(-_._2).foreach { case (n, s) =>
          println(f"# ${a.workload} self_time $n $s%.4f s") }
        tr.writeJsonl(a.out.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl"))
        lm
      } else {
        (e2e ++ named).foreach { case (n, (v, u)) => println(s"# ${a.workload} $n ${num(v)} $u") }
        Seq("setup_s", "op_p50_s", "op2_s", "rate_per_s").map { n =>
          val (v, u) = e2e(n); (n, v, u) }
      }
    val body = metrics.map { case (n, v, u) => s"${q(n)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
      .mkString(",")
    println(s"""{"correct":$correct,"attempted":${attempted.get},"failed":${failed.get},"metrics":{$body}}""")
  }
}
