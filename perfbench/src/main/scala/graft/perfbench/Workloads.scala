package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, Scratch, SparkEntry, Tables}
import graft.operators.{AnnIvf, IndexStore}
import graft.operators.clustering.GraphBuild
import graft.queries.{CorpusQueries, DedupQueries, VectorQueries}

/** The benchmark's workloads. Each runs its set-up, then its timed
  * operations, and records them in `res`. Output checks run on every
  * timed operation; a failed check counts the operation as failed.
  */
final class Workloads(spark: SparkSession, dir: String, workDir: String,
    res: Main.Result, traced: Boolean, seconds: Double, clients: Int) {
  import Main.{nowMs, secs}

  private val sc = spark.sparkContext
  private val trace = new Trace
  private val WarmupMs = 14000.0
  private val MinBatchReps = 3

  private def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.TagKey)
    sc.setLocalProperty(Trace.TagKey, tag)
    try body finally sc.setLocalProperty(Trace.TagKey, prev)
  }

  /** Register the listeners: they count everything from here on. */
  private def startTrace(): Unit = {
    sc.addSparkListener(trace)
    spark.listenerManager.register(trace)
  }

  private def coldReset(): Unit = {
    SparkEntry.clearCaches()
    spark.catalog.clearCache()
  }

  private def consume(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition((it: Iterator[_]) => it.foreach(_ => ()))

  private def artifact(name: String): Unit =
    consume(SparkEntry.benchArtifacts.toMap.apply(name)(spark, dir))

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Spark-side layer counters of workload `w`, per timed operation,
    * for the traced section that just ran: drains the listener events,
    * then reads the counters of the jobs whose tag satisfies `keep`.
    */
  private def workloadLayers(w: String, ops: Int, keep: String => Boolean): Unit = {
    trace.awaitDrained()
    val t = trace.totals(keep)
    val n = math.max(1, ops).toDouble
    val mb = 1e6 * n
    res.layers ++= Seq(
      s"$w.catalyst_ms" -> trace.takeCatalystMs() / n,
      s"$w.jobs" -> t.jobs / n,
      s"$w.tasks" -> t.tasks / n,
      s"$w.job_queue_ms" -> (if (t.queuedJobs == 0) 0.0 else t.queueMs / t.queuedJobs),
      s"$w.shuffle_write_mb" -> t.shuffleWrite / mb,
      s"$w.spill_mb" -> t.spill / mb,
      s"$w.input_mb" -> t.input / mb,
      s"$w.output_mb" -> t.output / mb,
      s"$w.gc_ms" -> t.gcMs / n,
      s"$w.task_skew" -> trace.taskSkew(keep))
  }

  private def registerTables(): Unit =
    for (t <- Seq("documents", "embeddings"))
      res.info(s"rows.$t") = Tables.t(spark, dir, t).count()

  private def manifestOf(root: String): Map[String, (Long, Long)] =
    spark.read.parquet(Paths.get(root, "manifest").toString)
      .select("artifact", "n_rows", "checksum").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** The stored manifest must equal a recomputation over the files. */
  private def checkManifest(root: String): Unit = {
    val recomputed = IndexStore.ArtifactNames
      .map(n => IndexStore.recomputedRow(spark, root, n))
      .reduce(_.unionAll(_))
      .select("artifact", "n_rows", "checksum").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stored = manifestOf(root)
    res.check(stored.size == IndexStore.ArtifactNames.size && stored == recomputed,
      s"manifest of $root does not match its files")
  }

  private def dataFiles(root: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** Times named stages into one map. */
  private final class Stages {
    val times = mutable.LinkedHashMap.empty[String, Double]
    def apply[T](name: String)(body: => T): T = {
      val s = System.nanoTime()
      val r = body
      times(name) = secs(s)
      r
    }
  }

  // ---------------------------------------------------------------- build

  /** One E1 batch build: score (scan → clean → token windows →
    * inference) → act features → KMeans/Ward/rebalance tree, with graph
    * and movies collected. Outputs are checked after the clock stops.
    */
  private def buildOnce(): (Map[String, Double], Boolean) = {
    coldReset()
    val stage = new Stages
    val t0 = System.nanoTime()
    val scored = stage("score_s") {
      val s = Pipeline.e1Scored(spark, dir).persist(); s.count(); s
    }
    val feats = stage("act_features_s") {
      val f = Pipeline.e1Features(scored).persist(); f.count(); f
    }
    val (graph, movies) = stage("tree_s") {
      val g = Pipeline.e1FromScored(scored)
      (g.graph.select("id", "type", "depth", "count").collect(),
        g.movies.select("movie_id", "graph_id").collect())
    }
    stage.times("total_s") = secs(t0)
    scored.unpersist()
    feats.unpersist()
    (stage.times.toMap, checkTree(graph, movies))
  }

  private def checkTree(graph: Array[Row], movies: Array[Row]): Boolean = {
    val maxDepth = graph.map(_.getAs[Int]("depth")).max
    val leaves = graph.filter(_.getAs[String]("type") == "leaf")
    val leafIds = leaves.map(_.getAs[Long]("id")).toSet
    val rootCount = graph.find(_.getAs[Int]("depth") == 0).map(_.getAs[Long]("count"))
    val ids = movies.map(_.getAs[Long]("movie_id"))
    res.check(maxDepth <= 5, s"tree depth $maxDepth > 5") &
      res.check(movies.nonEmpty, "no movies") &
      res.check(ids.distinct.length == ids.length, "a movie is placed twice") &
      res.check(rootCount.contains(ids.length.toLong) &&
        leaves.map(_.getAs[Long]("count")).sum == ids.length,
        s"members not conserved: root $rootCount, movies ${ids.length}") &
      res.check(movies.forall(r => leafIds(r.getAs[Long]("graph_id"))),
        "a movie hangs off a non-leaf node")
  }

  /** Append adds exactly the delta's rows to the four growing artifacts. */
  private def checkAppend(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Boolean = {
    val st = CorpusQueries.bm25UpsertState(spark, dir)
    val nVec = VectorQueries.upsertAppended(spark, dir).count()
    val delta = Map("ivf_assigned" -> nVec, "pq_codes" -> nVec,
      "bm25_post" -> st.dPost.count(), "bm25_lens" -> st.dLens.count())
    res.check(delta.forall { case (a, d) => after(a)._1 == before(a)._1 + d },
      "append: row counts differ from before + delta")
  }

  // ------------------------------------------------------------ analytics

  /** The analytics queries each batch iteration runs after the E1 build:
    * the iterative graph and dedup paths no other workload reaches.
    * PageRank iterates joins over the purchase graph (Pregel's
    * join-per-superstep shape), q_dedup_cc runs GraphX Pregel connected
    * components, and q_dedup_minhash is the MinHash-LSH band join.
    */
  private val AnalyticsQueries = Seq("q_graph_pagerank", "q_dedup_cc", "q_dedup_minhash")

  /** Order-independent digest of a result's rows. */
  private def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** One pass over the analytics queries, each materialized in full.
    * Per-query state (scratch persists, the dedup bucket cache) is
    * dropped before each query, as Bench drops it. Returns each query's
    * seconds and rows.
    */
  private def analyticsPass(): Seq[(String, Double, DataFrame, Array[Row])] =
    for (q <- AnalyticsQueries) yield {
      Scratch.releaseAll()
      DedupQueries.clearCache()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      val rows = df.collect()
      (q, secs(t0), df, rows)
    }

  // ---------------------------------------------------------------- build

  private var firstHashes: Map[String, String] = Map.empty

  /** The E1 build of a batch iteration, from cold caches: every memo is
    * dropped first. Records one `build` operation.
    */
  private def buildStep(win: String): Unit = {
    val (st, ok) = tagged(s"$win.build")(buildOnce())
    res.op(Map("window" -> win, "kind" -> "build", "due_ms" -> 0.0,
      "start_ms" -> 0.0, "end_ms" -> st("total_s") * 1e3, "ok" -> ok) ++
      st.collect { case (k, v) if k != "total_s" => s"build.$k" -> v })
  }

  /** The analytics pass of a batch iteration. The first pass fixes each
    * query's digest; later ones must match it. Records one `analytics`
    * operation and returns the pass.
    */
  private def analyticsStep(win: String): Seq[(String, Double, DataFrame, Array[Row])] = {
    val pass = tagged(s"$win.analytics")(analyticsPass())
    val hashes = pass.map { case (q, _, _, rows) => q -> rowsHash(rows) }.toMap
    if (firstHashes.isEmpty) firstHashes = hashes
    val ok = AnalyticsQueries.map(q => res.check(hashes(q) == firstHashes(q),
      s"analytics $q: rows differ from the first pass")).forall(identity)
    res.op(Map("window" -> win, "kind" -> "analytics", "due_ms" -> 0.0,
      "start_ms" -> 0.0, "end_ms" -> pass.map(_._2).sum * 1e3, "ok" -> ok) ++
      pass.map { case (q, t, _, _) => s"analytics.${q}_s" -> t })
    pass
  }

  /** Dump each result of an analytics pass, with its DuckDB twin SQL,
    * for the front end's twin check.
    */
  private def dumpTwins(pass: Seq[(String, Double, DataFrame, Array[Row])]): Unit = {
    val twins = SparkEntry.oracleSql
    for ((q, _, df, rows) <- pass if twins.contains(q)) {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(Paths.get(workDir, "twins", q).toString)
      res.twins(q) = twins(q)
    }
  }

  /** Batch iterations (E1 build, then the analytics pass) from cold
    * caches, in one process. The first iteration pays class loading, JIT
    * and code generation and is not timed; it also dumps the analytics
    * results for the twin check. Then at least three iterations, and as
    * many as `seconds` holds, are timed. A traced run adds one iteration
    * with the listeners on: its difference from the last untraced one is
    * the tracing overhead.
    */
  def build(): Unit = {
    registerTables()
    buildStep("setup")
    dumpTwins(analyticsStep("setup"))
    res.setupDone()
    val cpu0 = Main.cpuMs()
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinBatchReps || secs(t0) < seconds) {
      buildStep("plain"); analyticsStep("plain"); n += 1
    }
    res.windowS("plain") = secs(t0)
    res.cpuMs("plain") = Main.cpuMs() - cpu0
    if (traced) {
      startTrace()
      buildStep("traced")
      workloadLayers("build", 1, _ == "traced.build")
      analyticsStep("traced")
      workloadLayers("analytics", 1, _ == "traced.analytics")
    }
  }

  // ---------------------------------------------------------------- serve

  private var graphDf: DataFrame = _
  private var treeIds: Array[Long] = Array.empty
  private var children: Map[Long, Set[Long]] = Map.empty
  private var e3Ids: Array[Long] = Array.empty
  private var vectors: Array[(Long, Array[Float])] = Array.empty
  private var ivfMem: AnnIvf.IvfIndex = _
  private var ivfStore: AnnIvf.IvfIndex = _

  /** Build what the reads serve, timed per stage: the movie tree, the
    * in-session IVF memo, and the durable store (PQ and BM25 builds,
    * save, load), which the `ann_store` reads use. Every stage's output
    * is checked.
    */
  private def serveSetup(): Unit = {
    coldReset()
    registerTables()
    val stage = new Stages
    val g = stage("tree_s")(GraphBuild.build(Tables.embeddings(spark, dir), "vec_id", "embedding"))
    val rows = g.graph.select("id", "path", "depth").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    graphDf = g.graph
    treeIds = rows.map(_._1).sorted
    // E2's expected answers, derived on the driver from the collected
    // tree: a child's path extends its parent's by one component
    children = rows.map { case (id, path, depth) =>
      id -> rows.collect { case (c, p, d) if d == depth + 1 && p.startsWith(path + ".") => c }.toSet
    }.toMap
    ivfMem = stage("ivf_s") {
      val ix = VectorQueries.ivfIndex(spark, dir); consume(ix.assigned); ix
    }
    stage("pq_s")(artifact("build_pq_codebooks"))
    stage("bm25_s")(artifact("build_bm25_index"))
    val saved = stage("store_write_s")(IndexStore.save(spark, dir))
    ivfStore = stage("store_load_s") {
      val l = IndexStore.load(spark, saved); l.manifest.collect(); l.ivf
    }
    for ((k, v) <- stage.times) res.layers(s"index.$k") = v
    checkManifest(saved)

    val docIds = Tables.documents(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
    vectors = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    e3Ids = vectors.map(_._1).filter(docIds)
  }

  /** q_serve_movie_e3's plan for one movie. */
  private def e3Frame(docId: Long): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") === docId)
      .select(col("doc_id"), col("source"))
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), posexplode(col("embedding")))
      .select(col("doc_id"), col("source"), (col("pos") + 1).cast("long").as("dim"),
        (round(col("col").cast("double"), 6) + lit(0.0)).as("x"))

  private def pick[T](xs: Array[T], arg: Long): T = xs((arg % xs.length).toInt)

  /** One read request; returns (ok, per-layer timings and counts). */
  private def request(kind: String, arg: Long): (Boolean, Map[String, Double]) = {
    val f0 = System.nanoTime()
    val (df, verify) = kind match {
      case "e2" =>
        val id = pick(treeIds, arg)
        val want = children(id)
        (GraphBuild.childrenOf(graphDf, id),
          (rows: Array[Row]) => res.check(rows.map(_.getAs[Long]("id")).toSet == want &&
            rows.length == want.size, s"e2 node $id: children differ"))
      case "e3" =>
        val id = pick(e3Ids, arg)
        (e3Frame(id), (rows: Array[Row]) =>
          res.check(rows.length == 64, s"e3 doc $id: ${rows.length} rows"))
      case "ann_mem" | "ann_store" =>
        val (id, v) = pick(vectors, arg)
        val sp = spark
        import sp.implicits._
        val probe = Seq((id, v)).toDF("pid", "embedding")
        val ix = if (kind == "ann_mem") ivfMem else ivfStore
        (AnnIvf.topK(ix, probe, "pid", "embedding", k = 10, nProbe = 4),
          (rows: Array[Row]) => {
            val best = if (rows.isEmpty) Double.NaN else rows.map(_.getAs[Double]("cos")).max
            res.check(rows.length <= 10 && rows.exists(r =>
              r.getAs[Long]("vec_id") == id && r.getAs[Double]("cos") == best),
              s"$kind probe $id: not among its own rank-1 ties")
          })
    }
    val frameMs = (System.nanoTime() - f0) / 1e6
    val a0 = System.nanoTime()
    val rows = df.collect()
    val actionMs = (System.nanoTime() - a0) / 1e6
    val qe = df.queryExecution
    def phaseMs(p: String) = qe.tracker.phases.get(p)
      .map(x => (x.endTimeMs - x.startTimeMs).toDouble).getOrElse(0.0)
    val layer = Map(
      "frame_ms" -> frameMs,
      "catalyst_ms" -> Trace.catalystMs(qe),
      "exec_ms" -> math.max(0.0, actionMs - phaseMs("optimization") - phaseMs("planning")),
      "rows_read" -> Trace.rowsRead(qe.executedPlan).toDouble,
      "rows_out" -> rows.length.toDouble)
    (verify(rows), layer)
  }

  /** Open loop: each request is handed at its due time to a pool of
    * `clients` threads, whatever the state of earlier requests, and its
    * latency runs from the due time. Jobs are tagged `<win>.<kind>`.
    */
  private def openLoop(win: String, due: Array[Main.Req]): Unit = {
    val pool = Executors.newFixedThreadPool(clients)
    val done = new AtomicIntegerArray(due.length)
    val cpu0 = Main.cpuMs()
    val t0 = System.nanoTime()
    for ((r, i) <- due.zipWithIndex) {
      val waitNs = ((r.dueMs - nowMs(t0)) * 1e6).toLong
      if (waitNs > 0) LockSupport.parkNanos(waitNs)
      val sentMs = nowMs(t0)
      pool.submit(new Runnable {
        def run(): Unit = {
          val startMs = nowMs(t0)
          val (ok, layer) =
            try tagged(s"$win.${r.kind}")(request(r.kind, r.arg))
            catch { case e: Throwable => res.fail(s"${r.kind}: $e"); (false, Map.empty[String, Double]) }
          res.op(Map("window" -> win, "kind" -> r.kind, "due_ms" -> r.dueMs,
            "sent_ms" -> sentMs, "start_ms" -> startMs, "end_ms" -> nowMs(t0),
            "ok" -> ok) ++ layer)
          done.set(i, 1)
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    for ((r, i) <- due.zipWithIndex if done.get(i) == 0) {
      res.fail(s"${r.kind} due at ${r.dueMs} ms did not finish")
      res.op(Map("window" -> win, "kind" -> r.kind, "due_ms" -> r.dueMs, "ok" -> false))
    }
    res.windowS(win) = secs(t0)
    res.cpuMs(win) = Main.cpuMs() - cpu0
  }

  /** All clients send requests back to back for the warm-up time;
    * returns the number of requests served.
    */
  private def closedLoop(reqs: Array[Main.Req]): Int = {
    val next = new AtomicInteger
    val served = new AtomicInteger
    val t0 = System.nanoTime()
    val threads = (1 to clients).map { _ =>
      new Thread(() => while (nowMs(t0) < WarmupMs) {
        val r = reqs(next.getAndIncrement() % reqs.length)
        try { tagged(r.kind)(request(r.kind, r.arg)); served.incrementAndGet() }
        catch { case e: Throwable => res.fail(s"warm-up ${r.kind}: $e") }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    served.get
  }

  /** One durable-index write cycle: drop the store memos, then save,
    * append the canonical delta, compact and load. Append must add
    * exactly the delta's rows, and compaction must keep the manifest.
    * Records the stage times and the store's files and bytes.
    */
  private def writeCycle(t0: Long): Unit = {
    val startMs = nowMs(t0)
    val stage = new Stages
    IndexStore.clearCache()
    val saved = stage("save_s")(IndexStore.save(spark, dir))
    val before = manifestOf(saved)
    val appended = stage("append_s")(IndexStore.append(spark, dir))
    val compacted = stage("compact_s")(IndexStore.compact(spark, dir))
    stage("load_s")(IndexStore.load(spark, compacted).manifest.collect())
    val after = manifestOf(appended)
    val ok = checkAppend(before, after) &
      res.check(manifestOf(compacted) == after, "compaction changed the manifest")
    val bytes = (r: String) => dataFiles(r).map(Files.size).sum.toDouble
    val files = (r: String) => dataFiles(r).size.toDouble
    res.op(Map("window" -> "writes", "kind" -> "write_cycle", "due_ms" -> startMs,
      "start_ms" -> startMs, "end_ms" -> nowMs(t0), "ok" -> ok,
      "store_bytes" -> bytes(saved), "appended_bytes" -> (bytes(appended) - bytes(saved)),
      "upsert.files_appended" -> (files(appended) - files(saved)),
      "upsert.files_compacted" -> files(compacted)) ++
      stage.times.map { case (k, v) => s"upsert.$k" -> v })
  }

  /** Reads beside writes: the open loop runs while one writer thread
    * loops the write cycle, finishing at least one. The store root the
    * `ann_store` reads use is rewritten here, so each of those requests
    * takes the kind of another request, drawn by its argument: the rate
    * stays, and the other kinds keep their relative shares.
    */
  private def besideWrites(due: Array[Main.Req]): Unit = {
    val others = due.map(_.kind).filter(_ != "ann_store")
    val reads = due.map(r => if (r.kind != "ann_store") r
      else r.copy(kind = pick(others, r.arg)))
    @volatile var stop = false
    val t0 = System.nanoTime()
    val writer = new Thread(() => {
      var cycles = 0
      while (!stop || cycles == 0) {
        try tagged("writes.writer")(writeCycle(t0))
        catch { case e: Throwable => res.fail(s"write cycle: $e"); stop = true }
        cycles += 1
      }
    })
    writer.start()
    openLoop("writes", reads)
    stop = true
    writer.join()
  }

  def serve(schedule: Array[Main.Req]): Unit = {
    val kinds = schedule.map(_.kind).distinct.toSeq.sorted
    serveSetup()
    res.info("tree_nodes") = treeIds.length
    val due = schedule.filter(_.dueMs < seconds * 1000.0)
    res.info("offered") = due.length
    // warm-up: all clients back to back on other nodes, documents and
    // probes, untimed. The request paths keep getting faster for about
    // half a minute of load (JIT, generated-code compilation); after 6 s
    // the timed window still ran 20-30% slower than a later one, and
    // varied more between runs
    val served = closedLoop(due.map(r => r.copy(arg = r.arg + 1)))
    res.info("warmup_req_per_s") = served / (WarmupMs / 1e3)
    res.setupDone()
    openLoop("plain", due)
    if (traced) {
      startTrace()
      openLoop("traced", due)
      trace.awaitDrained()
      val reads = res.ops.filter(_("window") == "traced")
      for (k <- kinds) {
        val ops = reads.filter(o => o("kind") == k && o.contains("frame_ms"))
        def med(f: String) = median(ops.map(_(f).asInstanceOf[Double]).toSeq)
        val t = trace.totals(_ == s"traced.$k")
        val n = math.max(1, ops.size).toDouble
        res.layers ++= Seq(
          s"serve.$k.frame_ms" -> med("frame_ms"),
          s"serve.$k.catalyst_ms" -> med("catalyst_ms"),
          s"serve.$k.exec_ms" -> med("exec_ms"),
          s"serve.$k.jobs" -> t.jobs / n,
          s"serve.$k.tasks" -> t.tasks / n,
          s"serve.$k.rows_read_per_row" -> med("rows_read") / math.max(1.0, med("rows_out")))
      }
      workloadLayers("serve", reads.size, kinds.map(k => s"traced.$k").contains)
      besideWrites(due)
      trace.awaitDrained()
      val q = trace.totals(t => t.startsWith("writes.") && t != "writes.writer")
      res.layers("upsert.read_job_queue_ms") =
        if (q.queuedJobs == 0) 0.0 else q.queueMs / q.queuedJobs
    }
  }
}
