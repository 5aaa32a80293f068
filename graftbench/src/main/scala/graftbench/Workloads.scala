package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField, StructType, LongType}

import graft.operators.{IvfPq, LexIndex}
import graft.sources.PollingSource
import graft.streaming.QanStream

/** What a workload gives the runner. `setup` runs once before the timed
  * section: reading the tables, seeded samples, base builds and warm-up.
  * `block` is one unit of the closed loop; `finish` runs after the
  * timed section and leaves what the output checks need.
  */
trait Workload {
  def setup(): Unit
  def block(): Unit
  def finish(): Map[String, Any]
}

/** The runner's services to a workload: the session, the seed, the
  * scratch directory, timed ops and traced layer calls.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer) {
  val ops = mutable.ArrayBuffer[Op]()
  var rows = 0L
  var traced = false
  /** Counts a traced run takes at the call site (e.g. Catalyst phase
    * times of a plan that no action reports to a listener).
    */
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** One timed op. A failure is recorded, logged and does not stop the
    * run; the op counts in `failed`.
    */
  def op(kind: String, label: String = "")(body: => Unit): Boolean = {
    val id = ops.length
    tracer.currentOp = id
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] op $id ($kind) failed: $e")
        false
    }
    ops += Op(id, kind, label, t0, System.nanoTime(), ok, traced)
    tracer.currentOp = -1
    ok
  }

  /** Between ops: drop what a query persisted, outside any op's time. */
  def clearState(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    QanStream.releaseReplayState(spark)
  }
}

object Files {
  /** (path → (bytes, mtime)) of every file under `dir`. */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(dir)
    def rec(f: java.io.File): Seq[(String, (Long, Long))] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(rec)
      else Seq(f.getPath -> (f.length(), f.lastModified()))
    if (root.exists()) rec(root).toMap else Map.empty
  }
}

/** qan_analytics: graft's QAN query surface over the `events` table in
  * `data`. The queries are every fifth batch `qan_*` entry over
  * `events` in name order; a block is two passes over them, each in its
  * own seeded order, each result going to the noop sink.
  */
final class Analytics(ctx: Ctx, data: String) extends Workload {
  import ctx.spark
  private val all = graft.SparkEntry.queries
  // qan_poll_delta is the collector loop qan_ingest drives; these two
  // join `orders`, which the benchmark's data does not hold
  private val excluded = Set("qan_poll_delta", "qan_asof_enrich", "qan_skew_join")
  val names: Seq[String] = all.keys.toSeq.sorted
    .filter(n => n.startsWith("qan_") && !excluded(n))
    .zipWithIndex.collect { case (n, i) if i % 5 == 0 => n }
  private val order = Gen.rng(ctx.seed, "order")
  val dumped = mutable.LinkedHashMap[String, String]()

  private var nEvents = 0L

  /** One untimed pass that writes every result for the output check;
    * it also warms the JIT and the code-generation caches.
    */
  def setup(): Unit = {
    nEvents = graft.Tables.events(spark, data).count()
    names.foreach(dump)
  }

  private def dump(n: String): Unit = {
    try {
      all(n)(spark, data).write.mode("overwrite").parquet(s"${ctx.work}/out/$n")
      dumped(n) = "ok"
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] dump $n failed: $e")
        dumped(n) = e.toString.take(200)
    }
    ctx.clearState()
  }

  def block(): Unit = (order.shuffle(names) ++ order.shuffle(names)).foreach { n =>
    ctx.op("query", n) {
      val df = ctx.span("queries.build")(all(n)(spark, data))
      // the query's own analysis ran when it was built; the listener
      // sees only the noop write's plan, which wraps the analysed one
      if (ctx.traced) ctx.counters("plans.analysis_ms") +=
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      ctx.span("exec.sink")(df.write.format("noop").mode("overwrite").save())
    }
    ctx.rows += nEvents
    ctx.clearState()
  }

  def finish(): Map[String, Any] = Map(
    "data_dir" -> data, "out_dir" -> s"${ctx.work}/out",
    "queries" -> names, "dumped" -> dumped.toMap,
    "oracles" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}

/** qan_ingest: the collector loop. One tick polls a seeded fleet
  * snapshot into staging and drains it through the stateful delta
  * stream, whose state and offsets live in a checkpoint across ticks.
  */
final class Ingest(ctx: Ctx, instances: Int, digests: Int, warmTicks: Int)
    extends Workload {
  import ctx.spark
  private val fleet = new Gen.Fleet(ctx.seed, instances, digests)
  private var poll = 0L
  private def staging = s"${ctx.work}/staging"
  private def deltas = s"${ctx.work}/deltas"
  private def ckpt = s"${ctx.work}/checkpoint"
  private val t0Micros = 1704067200000000L // 2024-01-01T00:00:00Z
  private val stagedSchema = StructType(Gen.Fleet.schema.fields ++ Seq(
    StructField("poll_index", LongType), StructField("poll_ts", LongType)))

  private def tick(): Unit = {
    import spark.implicits._
    fleet.advance()
    ctx.span("sources.poll") {
      PollingSource.pollToStaging(spark, fleet, 1, staging, startIndex = poll,
        clock = i => t0Micros + i * 60000000L)
    }
    poll += 1
    val feed = PollingSource.stagedStream(spark, staging, stagedSchema)
      .select(col("poll_index").as("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("poll_ts")).as("ts"),
        col("counter").cast(DecimalType(38, 18)).as("counter"))
      .as[QanStream.CounterEvent]
    ctx.span("sources.drain") {
      PollingSource.drainAvailableNow(QanStream.deltaStream(feed).toDF(), deltas, ckpt)
    }
  }

  /** The first ticks are warm-up: they start the stream's state and
    * compile its code paths. On 4 cores a tick's latency falls from
    * ~7 s (first tick) to within ~10 % of its level (~1.25 s) by the 12th
    * tick and to the level by the 14th; timing starts after `warmTicks` =
    * 12, which the run's time budget allows. Their deltas are
    * checked with the rest. Nothing is released after them: the first
    * timed tick finds the state stores loaded, as every later one does.
    */
  def setup(): Unit = (0 until warmTicks).foreach(_ => tick())

  def block(): Unit = {
    ctx.op("tick")(tick())
    ctx.rows += instances.toLong * digests
  }

  def finish(): Map[String, Any] = Map(
    "staging_dir" -> staging, "deltas_dir" -> deltas, "polls" -> poll,
    "staged_files" -> Files.listing(staging).keys.count(_.endsWith(".parquet")))
}

/** corpus_index: both stores under a mixed stream of writes and reads,
  * over the `documents` and `embeddings` tables in `data`. The stores
  * are built over a seeded 90 % of each table; the held-out 10 % are
  * the appends. A round appends a batch of held-out documents and
  * vectors, tombstones a seeded sample of live ids, reloads both stores,
  * and serves seeded query batches (top-10; the queries are seeded
  * samples of the tables) from each. A block is two rounds, then both
  * stores compact, so every run has the same mix of operations.
  */
final class CorpusIndex(ctx: Ctx, data: String) extends Workload {
  import ctx.spark
  private val dim = 64
  private val (m, dsub, kCodes, nprobe, qTerms, k) = (16, 4, 64, 2, 20, 10)
  private val appendDocs = 50
  private val appendVecs = 20
  private val deleteN = 10
  private val serveBatch = 4
  private val servesPerRound = 3
  private val roundsPerBlock = 2
  private def lexDir = s"${ctx.work}/lex"
  private def vecDir = s"${ctx.work}/vec"

  private var heldDocs, queryDocs: IndexedSeq[Gen.Doc] = _
  private var heldVecs, queryVecs: IndexedSeq[(Long, Array[Float])] = _
  private var maxDocId, maxVecId = 0L
  private val r = Gen.rng(ctx.seed, "corpus-ops")

  private val liveDocs = mutable.LinkedHashMap[Long, String]()
  private val liveVecs = mutable.LinkedHashMap[Long, Array[Float]]()
  private var nextDoc = 0
  private var nextVec = 0
  private var halves: (IvfPq.Index, Array[Array[Array[Double]]]) = _
  private var lex: LexIndex.Loaded = _
  private var vec: IvfPq.Loaded = _

  // bytes landed under each store, from file listings between ops
  private val seen = mutable.Map[String, Map[String, (Long, Long)]]()
  val written = mutable.Map[String, Long]().withDefaultValue(0L)
  var ingestedBytes = 0L
  val buildS = mutable.Map[String, Double]()

  private def docBytes(t: String) = t.getBytes("UTF-8").length + 8L
  private val vecBytes = dim * 4L + 8L

  private def account(store: String, dir: String): Unit = {
    val now = Files.listing(dir)
    val before = seen.getOrElse(store, Map.empty)
    written(store) += now.collect { case (p, e @ (b, _)) if !before.get(p).contains(e) => b }.sum
    seen(store) = now
  }

  /** Read the tables, split them, build both stores from the base, then
    * run one untimed round and compaction, so timing does not start with
    * compiling the append, serve and compaction paths.
    */
  def setup(): Unit = {
    val allDocs = Gen.docs(spark, data)
    val allVecs = Gen.vectors(spark, data)
    maxDocId = allDocs.map(_.id).max
    maxVecId = allVecs.map(_._1).max
    val split = Gen.rng(ctx.seed, "split")
    val (docs, d1) = split.shuffle(allDocs).splitAt(allDocs.size * 9 / 10)
    val (vecs, v1) = split.shuffle(allVecs).splitAt(allVecs.size * 9 / 10)
    heldDocs = d1.sortBy(_.id)
    heldVecs = v1.sortBy(_._1)
    // queries are table rows under negative ids, so they never collide
    // with a stored id
    val pick = Gen.rng(ctx.seed, "queries")
    queryDocs = pick.shuffle(allDocs).take(200).map(d => d.copy(id = -1 - d.id))
    queryVecs = pick.shuffle(allVecs).take(200).map { case (id, v) => (-1 - id, v) }
    docs.foreach(d => liveDocs(d.id) = d.text)
    vecs.foreach { case (id, v) => liveVecs(id) = v }
    ingestedBytes = docs.map(d => docBytes(d.text)).sum + vecs.size * vecBytes
    val t0 = System.nanoTime()
    LexIndex.buildIndex(Gen.docFrame(spark, docs), lexDir)
    val t1 = System.nanoTime()
    halves = IvfPq.buildIndex(Gen.vecFrame(spark, vecs), vecs.size, dim, m, dsub,
      kCodes, vecDir)
    buildS("lex") = (t1 - t0) / 1e9
    buildS("vec") = (System.nanoTime() - t1) / 1e9
    account("lex", lexDir); account("vec", vecDir)
    reload()
    round()
    compactAndReload()
    ctx.ops.clear()
    ctx.rows = 0L
  }

  private def reload(): Unit = {
    lex = ctx.span("lex.load")(LexIndex.loadIndex(spark, lexDir))
    vec = ctx.span("vec.load")(IvfPq.loadIndex(spark, vecDir))
  }

  private def sample[T](xs: Iterable[T], n: Int): Seq[T] = {
    val a = xs.toIndexedSeq
    Seq.fill(n)(a(r.nextInt(a.size))).distinct
  }

  private def vecQuery(loaded: IvfPq.Loaded, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    val q = qs.map { case (id, v) => (id, v.map(_.toDouble)) }.toDF("query_id", "qv")
    IvfPq.adcCandidates(loaded.index, loaded.books, loaded.dsub, loaded.live, q, nprobe)
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  private def lexQuery(loaded: LexIndex.Loaded, qs: Seq[Gen.Doc]): DataFrame =
    LexIndex.bm25FromIndex(loaded, Gen.docFrame(spark, qs), qTerms)
      .filter(col("rank") <= k)

  /** The `k`-th appended row: the held-out rows in turn, then the same
    * rows again under fresh ids above the table's.
    */
  private def appendedDoc(k: Int): Gen.Doc = {
    val d = heldDocs(k % heldDocs.size)
    if (k < heldDocs.size) d else d.copy(id = maxDocId + 1 + k)
  }

  private def appendedVec(k: Int): (Long, Array[Float]) = {
    val (id, v) = heldVecs(k % heldVecs.size)
    (if (k < heldVecs.size) id else maxVecId + 1 + k, v)
  }

  def block(): Unit = {
    (0 until roundsPerBlock).foreach(_ => round())
    compactAndReload()
  }

  private def compactAndReload(): Unit = {
    ctx.op("compact")(ctx.span("lex.compact")(LexIndex.compactIndex(spark, lexDir)))
    account("lex", lexDir)
    ctx.op("compact")(ctx.span("vec.compact")(IvfPq.compactIndex(spark, vecDir)))
    account("vec", vecDir)
    ctx.op("load")(reload())
    ctx.clearState()
  }

  private def round(): Unit = {
    val newDocs = (0 until appendDocs).map(i => appendedDoc(nextDoc + i))
    val newVecs = (0 until appendVecs).map(i => appendedVec(nextVec + i))
    nextDoc += appendDocs; nextVec += appendVecs
    val delDocs = sample(liveDocs.keys, deleteN)
    val delVecs = sample(liveVecs.keys, deleteN)
    if (ctx.op("append")(ctx.span("lex.append") {
      LexIndex.appendToIndex(Gen.docFrame(spark, newDocs), lexDir)
    })) {
      newDocs.foreach(d => liveDocs(d.id) = d.text)
      ingestedBytes += newDocs.map(d => docBytes(d.text)).sum
    }
    account("lex", lexDir)
    if (ctx.op("append")(ctx.span("vec.append") {
      IvfPq.appendToIndex(halves._1, halves._2, dsub, Gen.vecFrame(spark, newVecs),
        vecDir, "")
    })) {
      newVecs.foreach { case (id, v) => liveVecs(id) = v }
      ingestedBytes += newVecs.size * vecBytes
    }
    account("vec", vecDir)
    if (ctx.op("delete")(ctx.span("lex.delete") {
      import spark.implicits._
      LexIndex.deleteFromIndex(delDocs.toDF("doc_id"), lexDir)
    })) delDocs.foreach(liveDocs.remove)
    account("lex", lexDir)
    if (ctx.op("delete")(ctx.span("vec.delete") {
      import spark.implicits._
      IvfPq.deleteFromIndex(delVecs.toDF("id"), vecDir)
    })) delVecs.foreach(liveVecs.remove)
    account("vec", vecDir)
    ctx.op("load")(reload())
    (0 until servesPerRound).foreach { _ =>
      val qd = sample(queryDocs, serveBatch)
      ctx.op("serve")(ctx.span("lex.serve")(lexQuery(lex, qd).collect()))
      val qv = sample(queryVecs, serveBatch)
      ctx.op("serve")(ctx.span("vec.serve")(vecQuery(vec, qv).collect()))
    }
    ctx.rows += newDocs.size + newVecs.size + delDocs.size + delVecs.size +
      servesPerRound * 2 * serveBatch
    ctx.clearState()
  }

  private def storeBytes(dir: String): Long = Files.listing(dir).values.map(_._1).sum
  private def storeFiles(dir: String): Int = Files.listing(dir).size

  /** The output check: the stores as the last block left them
    * (compacted and reloaded), their statistics and a fixed probe set's
    * top-10 must equal a from-scratch build
    * over the surviving documents, and the vector store's coded file
    * and top-10 must equal the surviving vectors encoded under the same
    * trained halves.
    */
  def finish(): Map[String, Any] = {
    val liveBytes = liveDocs.values.map(docBytes).sum + liveVecs.size * vecBytes
    val end = Map(
      "lex_store_mb" -> storeBytes(lexDir) / 1e6, "vec_store_mb" -> storeBytes(vecDir) / 1e6,
      "lex_store_files" -> storeFiles(lexDir), "vec_store_files" -> storeFiles(vecDir),
      "space_amp" -> (storeBytes(lexDir) + storeBytes(vecDir)).toDouble / liveBytes,
      "write_amp" -> (written("lex") + written("vec")).toDouble / ingestedBytes,
      "lex_written_mb" -> written("lex") / 1e6, "vec_written_mb" -> written("vec") / 1e6,
      "lex_build_s" -> buildS("lex"), "vec_build_s" -> buildS("vec"),
      "live_docs" -> liveDocs.size, "live_vecs" -> liveVecs.size)
    val mismatches = mutable.ArrayBuffer[String]()
    try {
      val survivors = liveDocs.toSeq.map { case (id, t) => Gen.Doc(id, t) }
      val freshDir = s"${ctx.work}/lex_fresh"
      LexIndex.buildIndex(Gen.docFrame(spark, survivors), freshDir)
      val fresh = LexIndex.loadIndex(spark, freshDir)
      val probeDocs = queryDocs.take(20)
      val coded = IvfPq.codedInvertedFile(halves._1,
        Gen.vecFrame(spark, liveVecs.toSeq), halves._2, dsub)
      def codes(df: DataFrame) = df.select(col("cell"), col("id"), concat_ws(",", col("codes")))
      val probeVecs = queryVecs.take(20)
      val pairs = Seq(
        "lex.postings" -> (lex.livePostings, fresh.livePostings),
        "lex.df" -> (lex.df, fresh.df),
        "lex.dl" -> (lex.liveDl, fresh.liveDl),
        "lex.totals" -> (lex.totals, fresh.totals),
        "lex.top10" -> (lexQuery(lex, probeDocs), lexQuery(fresh, probeDocs)),
        "vec.coded" -> (codes(vec.live), codes(coded)),
        "vec.top10" -> (vecQuery(vec, probeVecs), vecQuery(vec.copy(live = coded), probeVecs)))
      // one job per side: each table's row count and the sum of its row
      // hashes, a multiset fingerprint
      def fingerprints(side: ((DataFrame, DataFrame)) => DataFrame): Map[String, (Long, Any)] =
        pairs.map { case (name, dfs) =>
          val df = side(dfs)
          df.select(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)").as("h"))
            .agg(lit(name).as("name"), count(lit(1)).as("n"), sum(col("h")).as("h"))
        }.reduce(_ union _).collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2))).toMap
      val (got, want) = (fingerprints(_._1), fingerprints(_._2))
      pairs.map(_._1).foreach { name =>
        if (got(name) != want(name)) mismatches +=
          s"$name: ${got(name)._1} rows whose fingerprint differs from the build from " +
            s"scratch's ${want(name)._1} rows"
      }
    } catch {
      case e: Throwable => mismatches += s"check failed: $e"
    }
    end ++ Map("mismatches" -> mismatches.toSeq)
  }
}
