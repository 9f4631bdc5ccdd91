package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, GraphAnnOps, KnnOps, LangIdOps, TextAnalysisOps, TextOps}
import graft.sources.{CatalogOps, Tables, WarcOps}

/** End-to-end benchmark of the RAG build, RAG serve and crawl-curate
  * pipelines. See `perfbench/README.md` for the workloads, the metrics and
  * which layer metric should move which end-to-end metric.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1 --dir D
  * (D: a fresh run-private directory; the caller removes it).
  *
  * Stdout carries JSON lines only: `env`, `detail`, and last the result
  * `{"correct", "attempted", "failed", "metrics"}`.
  */
object PerfBench {
  val Workloads = Seq("rag_build", "rag_serve", "crawl_curate")

  // Reference index and query shape (BASELINE.md), at the fixture's 64-d.
  val K = 3
  val EfSearch = 100
  val NProbe = 2
  val KCells = 8
  val KmeansIters = 3
  val M = 16
  val EfConstruction = 200

  /** Corpus size: above sf0.1's 5,000 documents, written as 4 files so the
    * scans run on more than one core.
    */
  val Docs = 6000
  val Files = 4
  /** The warm-up operation's corpus: it launches the same jobs and
    * generated code as the timed operations, on less data.
    */
  val WarmDocs = 500
  /** Set-up runs this many times per run; `setup_s` reports the median. */
  val SetupRepeats = 3
  /** The fewest timed operations a run reports, even past its deadline. A
    * pass costs 20–60 Spark jobs and 10–17 s, and a full measurement makes
    * 4 + 22 × workloads runs in 3420 s: that leaves room for two build
    * passes, whose median is the lower one, and one curate pass.
    */
  val MinOps = Map("rag_build" -> 2, "rag_serve" -> 10, "crawl_curate" -> 1)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = new java.io.File(opt("dir")).getAbsolutePath

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    println(envJson(spark, cores, seed, workload, trace))
    val bench = new Bench(spark, dir, seed, workload, trace)
    val code =
      try {
        val result = bench.run(seconds, sessionS)
        println(result)
        if (bench.correct) 0 else 1
      } finally spark.stop()
    sys.exit(code)
  }

  private def envJson(spark: SparkSession, cores: Int, seed: Long, workload: String, trace: Boolean): String = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst { case l if l.startsWith("MemAvailable:") => l.split("\\s+")(1).toLong }.get
      finally src.close()
    }.getOrElse(-1L)
    s"""{"env":{"workload":"$workload","seed":$seed,"trace":$trace,"nproc":$cores,"load_avg":$load,""" +
      s""""mem_available_kb":$memKb,"jdk":"${System.getProperty("java.version")}","spark":"${spark.version}",""" +
      s""""docs":$Docs,"dim":${Corpus.Dim}}}"""
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Median and the highest whole percentile with at least ten samples
    * beyond it, with the sample count.
    */
  def summary(xs: Seq[Double]): String =
    if (xs.isEmpty) """{"n":0}"""
    else {
      val tail = ((xs.length - 10) * 100) / xs.length
      val tailPart = if (tail > 50) s""","p$tail":${percentile(xs, tail)}""" else ""
      val all = if (xs.length <= 12) s""","all":[${xs.mkString(",")}]""" else ""
      s"""{"n":${xs.length},"p50":${median(xs)}$tailPart$all}"""
    }

  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
}

/** One run of one workload: set-up, the timed loop, the output checks and,
  * when traced, a sweep that times every layer once.
  */
final class Bench(spark: SparkSession, dir: String, seed: Long, workload: String, trace: Boolean) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val counter = new SparkCounter
  private val tracer = new Tracer(sc)
  if (trace) sc.addSparkListener(counter)

  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val latencyMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val detail = mutable.LinkedHashMap.empty[String, String]
  private val db = "bench"
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  def correct: Boolean = problems.isEmpty && failed == 0

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok && problems.length < 20) problems += what

  /** Runs one operation; a call that throws counts as failed, never as a
    * fast one. The latency is kept under `kind` unless `kind` is empty.
    */
  private def attempt[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      if (kind.nonEmpty) latencyMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] ${if (kind.isEmpty) "operation" else kind} failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Evaluates every row and column of `df` without keeping the output. */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Evaluates every row and column of `df`, as [[noop]] does, and returns
    * the row count and an order-free digest: the wrapping sum of each
    * row's XXH64 over its UnsafeRow bytes.
    */
  private def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("perfbench digest"))(qe.toRdd.mapPartitions { rows =>
      val unsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = unsafe(r)
        n += 1
        h += org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect()).foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  private def rnd(stream: Long) = new java.util.SplittableRandom(seed * 1000003L + stream)

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L // checksums, markers
    else f.length()

  // ---- set-up -------------------------------------------------------------

  private def corpusDir(i: Int) = s"$dir/corpus-$i"
  private def serveName(i: Int) = s"serve_$i"

  /** Writes the documents; `rag_serve` also writes their embeddings and
    * builds the routed NSW collection it queries.
    */
  private def setUp(i: Int): Unit = {
    val corpus = corpusDir(i)
    Corpus.writeDocuments(spark, corpus, seed, Docs, Files)
    if (workload == "rag_serve") {
      Corpus.writeEmbeddings(spark, corpus, corpus)
      CatalogOps.createNswRoutedCollection(spark, db, serveName(i), vectors(corpus),
        KCells, KmeansIters, M, EfConstruction)
    }
  }

  private def tearDown(i: Int): Unit = {
    dropTables(Seq(serveName(i), s"${serveName(i)}__model", s"${serveName(i)}__meta"))
    deleteTree(new java.io.File(corpusDir(i)))
  }

  private def dropTables(names: Seq[String]): Unit =
    names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))

  private def vectors(embDir: String): DataFrame =
    Tables.embeddings(spark, embDir).select(col("vec_id"), col("embedding"))

  // ---- rag_build ------------------------------------------------------------

  private def buildTables(name: String) = Seq(s"${name}_vc", name, s"${name}__model", s"${name}__meta")

  /** embedVectors → `out/embeddings.parquet` → vector collection → routed
    * NSW collection; every output is written in full.
    */
  private def buildPass(corpus: String, out: String, name: String, op: Int): Unit = {
    tracer("operators.embed", op)(Corpus.writeEmbeddings(spark, corpus, out))
    val emb = vectors(out)
    tracer("sources.vector_collection", op)(
      CatalogOps.createVectorCollection(spark, db, s"${name}_vc", emb))
    tracer("sources.nsw_collection", op)(
      CatalogOps.createNswRoutedCollection(spark, db, name, emb, KCells, KmeansIters, M, EfConstruction))
  }

  private def checkBuild(out: String, name: String, docs: Int): Unit = {
    val embRows = spark.read.parquet(s"$out/embeddings.parquet").count()
    check(embRows == docs, s"$name: $embRows embeddings for $docs documents")
    val vc = spark.table(s"$db.${name}_vc")
      .agg(count(lit(1)), sum(when(col("norm") > 0 && abs(aggregate(
        col("unit"), lit(0.0), (a, x) => a + x * x) - 1.0) > 1e-9, 1).otherwise(0)))
      .head()
    check(vc.getLong(0) == docs, s"$name: vector collection has ${vc.getLong(0)} rows")
    check(vc.getLong(1) == 0L, s"$name: ${vc.getLong(1)} stored unit vectors are not unit length")
    val ids = spark.table(s"$db.$name").select(explode(col("ids")).as("id"))
      .agg(count(lit(1)), countDistinct(col("id")), min(col("id")), max(col("id"))).head()
    check(ids.getLong(0) == docs && ids.getLong(1) == docs && ids.getLong(2) == 0L &&
      ids.getLong(3) == docs - 1, s"$name: NSW graphs hold ids $ids, expected 0..${docs - 1} once each")
  }

  /** Bytes on disk per document: the embeddings and the build's tables. */
  private def bytesPerDoc(out: String, name: String): Double = {
    val wh = new java.io.File(s"$dir/warehouse/$db.db")
    (treeBytes(new java.io.File(s"$out/embeddings.parquet")) +
      buildTables(name).map(t => treeBytes(new java.io.File(wh, t.toLowerCase))).sum).toDouble / Docs
  }

  // ---- rag_serve ------------------------------------------------------------

  /** Writes run between turns at fixed positions, and a run always makes
    * all of them, so every run with one seed ends in the same collection
    * state and recall repeats exactly.
    */
  private val WriteEveryTurns = 4
  private val Writes = 2
  private val UpsertFresh = 4
  private val UpsertUpdates = 1
  private val DeleteIds = 2
  private val RecallQueries = 30

  /** The serve loop's state: the collection and the vectors it should hold. */
  private final class Serve(corpus: String, name: String) {
    val live: mutable.TreeMap[Long, Array[Double]] = mutable.TreeMap.empty
    vectors(corpus).collect().foreach(r => live(r.getLong(0)) = r.getSeq[Double](1).toArray)
    private var nextId = live.lastKey + 1
    private val writeRnd = rnd(2)

    /** One chat turn: routed ANN for the query, then the RAG prompt. */
    def turn(q: String, op: Int): Unit = {
      val hits = tracer("operators.ann_search", op)(
        GraphAnnOps.searchStoredRouted(spark, db, name, Corpus.embed(q), K, EfSearch, NProbe).collect())
      check(hits.length == K, s"ann '$q' returned ${hits.length} hits")
      check(hits.forall(r => live.contains(r.getLong(0))),
        s"ann '$q' returned a deleted or unknown id: ${hits.map(_.getLong(0)).mkString(",")}")
      val rag = tracer("operators.rag", op)(TextOps.ragEndToEndText(spark, corpus, q, K).collect())
      check(rag.length == 1 && Seq("llm_prompt", "citations").forall { c =>
        val v = rag(0).getAs[String](c); v != null && v.nonEmpty
      }, s"rag '$q' returned ${rag.length} rows or an empty prompt or citations")
    }

    /** New ids plus updates of live ids, embedded like the corpus and kept
      * at the stored float precision.
      */
    def upsert(op: Int): Unit = {
      val keys = live.keysIterator.toIndexedSeq
      val ids = (0 until UpsertFresh).map(_ => { nextId += 1; nextId - 1 }) ++
        Seq.fill(UpsertUpdates)(keys(writeRnd.nextInt(keys.length))).distinct
      val rows = ids.map(id => id -> Corpus.embed(Corpus.queryText(writeRnd)).map(_.toFloat.toDouble))
      tracer("sources.upsert", op)(CatalogOps.upsertNsw(spark, db, name,
        spark.createDataFrame(rows.map { case (id, v) => (id, v.toSeq) }).toDF("vec_id", "embedding")))
      rows.foreach { case (id, v) => live(id) = v }
    }

    def delete(op: Int): Unit = {
      val keys = live.keysIterator.toIndexedSeq
      val ids = Seq.fill(DeleteIds)(keys(writeRnd.nextInt(keys.length))).distinct
      tracer("sources.delete", op)(CatalogOps.deleteNsw(spark, db, name,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")))
      ids.foreach(live.remove)
    }

    def write(w: Int, op: Int): Unit = if (w % 2 == 0) upsert(op) else delete(op)

    /** Share of the exact top-3 over the live vectors that the routed ANN
      * returns, over seeded queries; every ANN id must be live.
      */
    def recall(): Double = {
      val qr = rnd(3)
      val qs = (0 until RecallQueries).map(i => (i.toLong, Corpus.embed(Corpus.queryText(qr)).toSeq))
      val qdf = spark.createDataFrame(qs).toDF("query_id", "q_embedding")
      def topK(df: DataFrame): Map[Long, Set[Long]] = df.select(col("query_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val ann = topK(GraphAnnOps.searchStoredRoutedBatch(spark, db, name, qdf, K, EfSearch, NProbe))
      val liveDf = spark.createDataFrame(live.toSeq.map { case (id, v) => (id, v.toSeq) })
        .toDF("vec_id", "embedding")
      val exact = topK(KnnOps.topKForQueries(qdf, liveDf, K))
      check(ann.values.flatten.forall(live.contains), "recall: ANN returned a deleted id")
      check(exact.size == RecallQueries, s"recall: exact baseline answered ${exact.size} of $RecallQueries queries")
      qs.map { case (q, _) =>
        (ann.getOrElse(q, Set.empty) intersect exact.getOrElse(q, Set.empty)).size.toDouble / K
      }.sum / RecallQueries
    }
  }

  // ---- crawl_curate ---------------------------------------------------------

  private def curateStages(corpus: String): Seq[(String, () => DataFrame)] = Seq(
    "sources.crawl_archive" -> (() => WarcOps.crawlArchiveE2e(spark, corpus)),
    "operators.minhash" -> (() => DedupOps.minHashLsh(spark, corpus)),
    "operators.curate_lang" -> (() => LangIdOps.curateE2eLang(spark, corpus)),
    "operators.curate_e2e" -> (() => TextAnalysisOps.curateEndToEnd(spark, corpus)))

  /** Runs the four calls, each output materialized by [[digest]]; returns
    * each output's row count and digest.
    */
  private def curatePass(corpus: String, op: Int): Seq[(String, (Long, Long))] =
    curateStages(corpus).map { case (name, out) => name -> tracer(name, op)(digest(out())) }

  private def digestJson(ds: Seq[(String, (Long, Long))]): String =
    ds.map { case (n, (rows, h)) => s""""$n":{"rows":$rows,"digest":$h}""" }.mkString("{", ",", "}")

  /** Compares the digests with those an earlier run with this seed left in
    * the checkout, or leaves them for the next run. The seed alone fixes the
    * corpus, so untraced `crawl_curate` runs and every traced run compare.
    */
  private def checkDigestsAcrossRuns(json: String): Unit = {
    val path = java.nio.file.Paths.get(dir).getParent.resolve("digests").resolve(s"crawl_curate-seed$seed.json")
    if (java.nio.file.Files.exists(path)) {
      val before = new String(java.nio.file.Files.readAllBytes(path), "UTF-8").trim
      check(before == json, s"crawl_curate outputs differ from an earlier run with seed $seed: $before")
    } else {
      java.nio.file.Files.createDirectories(path.getParent)
      val tmp = java.nio.file.Files.createTempFile(path.getParent, "digest", ".tmp")
      java.nio.file.Files.write(tmp, json.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  // ---- the run --------------------------------------------------------------

  /** Starts operations while the deadline has not passed and until the run
    * has `minOps` of them. The loop is never traced.
    */
  private def loop(seconds: Double, minOps: Int)(op: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < minOps) {
      op(i)
      i += 1
    }
  }

  def run(seconds: Double, sessionS: Double): String = {
    val prep = (0 until SetupRepeats).map { i =>
      if (i > 0) tearDown(i - 1)
      val t0 = System.nanoTime()
      setUp(i)
      (System.nanoTime() - t0) / 1e9
    }
    val corpus = corpusDir(SetupRepeats - 1)
    val setupS = sessionS + median(prep)
    detail("setup_s") = s"""{"session_s":$sessionS,"prepare_s":[${prep.mkString(",")}]}"""

    // an untraced run warms up on a small corpus and times the workload's
    // operations; a traced run times each layer once in the sweep instead
    val warm = s"$dir/warm"
    val minOps = MinOps(workload)
    if (!trace) workload match {
      case "rag_build" =>
        def pass(i: Int, src: String, docs: Int, kind: String): Unit = {
          spark.catalog.clearCache()
          val op = tracer.newOp()
          val out = s"$dir/build-$i"
          attempt(kind)(tracer("op.build", op)(buildPass(src, out, s"build_$i", op)))
          checkBuild(out, s"build_$i", docs)
          if (i == 1) detail("bytes_per_doc") = num(bytesPerDoc(out, s"build_$i"))
          dropTables(buildTables(s"build_$i"))
          deleteTree(new java.io.File(out))
        }
        Corpus.writeDocuments(spark, warm, seed + 1, WarmDocs, Files)
        pass(0, warm, WarmDocs, "")
        loop(seconds, minOps)(i => pass(i + 1, corpus, Docs, "op"))
      case "rag_serve" =>
        val s = new Serve(corpus, serveName(SetupRepeats - 1))
        val wr = rnd(4)
        (0 until 2).foreach(_ => attempt("")(s.turn(Corpus.queryText(wr), 0)))
        val qr = rnd(1)
        var writes = 0
        loop(seconds, minOps) { i =>
          attempt("op")(s.turn(Corpus.queryText(qr), 0))
          if ((i + 1) % WriteEveryTurns == 0 && writes < Writes) { attempt("write")(s.write(writes, 0)); writes += 1 }
        }
        while (writes < Writes) { attempt("write")(s.write(writes, 0)); writes += 1 }
        detail("recall_at_3") = num(s.recall())
        detail("live_vectors") = s.live.size.toString
      case "crawl_curate" =>
        var first = ""
        def pass(src: String, kind: String): Unit = {
          spark.catalog.clearCache()
          val op = tracer.newOp()
          attempt(kind)(tracer("op.curate", op)(curatePass(src, op))).filter(_ => src == corpus).foreach { ds =>
            val json = digestJson(ds)
            if (first.isEmpty) {
              first = json
              detail("digests") = json
              detail("dedup_keep_ratio") = num(ds.toMap.apply("operators.minhash")._1.toDouble / Docs)
              checkDigestsAcrossRuns(json)
            } else check(json == first, s"crawl_curate outputs changed between passes: $json")
          }
        }
        Corpus.writeDocuments(spark, warm, seed + 1, WarmDocs, Files)
        pass(warm, "")
        loop(seconds, minOps)(_ => pass(corpus, "op"))
    }
    val probes: Map[String, Double] = if (trace) sweep(corpus) else Map.empty

    // operation time only: the checks between operations are not counted
    val timed = Seq("op", "write").flatMap(k => latencyMs.getOrElse(k, Nil))
    val ops = timed.length
    val p50 = median(latencyMs.getOrElse("op", Seq(Double.NaN)).toSeq)
    val throughput =
      if (workload == "rag_serve") ("ops_per_s", ops / (timed.sum / 1e3), "ops/s")
      else ("docs_per_s", Docs / (p50 / 1e3), "docs/s")
    val metrics: Seq[(String, Double, String)] =
      if (trace) layerMetrics(probes)
      else Seq(("setup_s", setupS, "s"), ("op_p50_ms", p50, "ms"), throughput)
    latencyMs.foreach { case (k, xs) => detail(s"${k}_ms") = summary(xs.toSeq) }
    detail("ops") = ops.toString
    if (problems.nonEmpty)
      detail("problems") = problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString("[", ",", "]")
    println(detail.map { case (k, v) => s""""$k":$v""" }.mkString("""{"detail":{""", ",", "}}"))
    val body = if (!correct) "" else metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }

  // ---- traced run -----------------------------------------------------------

  /** One traced pass through every layer over this run's corpus, so each
    * traced run reports every per-layer metric: a build pass; the embed
    * kernel, normalization, k-means and graph build alone, each over an
    * input that is already materialized; serve turns and writes on the
    * built collection; a curate pass.
    */
  private def sweep(corpus: String): Map[String, Double] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    tracer.enabled = true
    val name = "sweep"
    val op = tracer.newOp()
    val probes = mutable.LinkedHashMap.empty[String, Double]
    attempt("")(tracer("op.build", op)(buildPass(corpus, corpus, name, op)))
    checkBuild(corpus, name, Docs)
    probes("sources.bytes_per_doc") = bytesPerDoc(corpus, name)

    val docs = Tables.documents(spark, corpus)
    val kernel = toCol(graft.plans.FeatureHashEmbed(toExpr(col("text")), Corpus.Dim)).as("raw")
    attempt("")(tracer("plans.embed_kernel", op)(noop(docs.select(kernel))))
    val raw = docs.select(kernel).localCheckpoint(true)
    attempt("")(tracer("functions.normalize", op)(noop(raw.select(
      graft.functions.VectorFunctions.l2Normalize(col("raw")).as("unit"),
      graft.functions.VectorFunctions.l2Norm(col("raw")).as("norm")))))
    val emb = vectors(corpus).localCheckpoint(true)
    attempt("")(tracer("operators.kmeans", op)(KnnOps.kmeansCentroids(emb, KCells, KmeansIters))).foreach { c =>
      val cells = emb.select(toCol(graft.plans.NearestCentroid(toExpr(col("embedding")), c.toSeq, KCells)).as("part"),
        col("vec_id"), col("embedding")).localCheckpoint(true)
      attempt("")(tracer("operators.graph_build", op)(noop(GraphAnnOps.buildGraphsByPart(cells, M, EfConstruction).toDF())))
    }

    val s = new Serve(corpus, name)
    val qr = rnd(5)
    // after a warm-up turn, turns alternate traced and untraced: the tracing
    // overhead shows most on the operation with the most Spark jobs per second
    tracer.enabled = false
    attempt("")(s.turn(Corpus.queryText(qr), 0))
    (0 until 6).foreach { i =>
      val o = tracer.newOp()
      tracer.enabled = i % 2 == 0
      attempt(if (tracer.enabled) "" else "untraced_turn")(tracer("op.turn", o)(s.turn(Corpus.queryText(qr), o)))
    }
    tracer.enabled = true
    (0 until Writes).foreach(w => attempt("")(s.write(w, tracer.newOp())))
    probes("operators.recall_at_3") = s.recall()

    val o = tracer.newOp()
    attempt("")(tracer("op.curate", o)(curatePass(corpus, o))).foreach { ds =>
      probes("operators.dedup_keep_ratio") = ds.toMap.apply("operators.minhash")._1.toDouble / Docs
      checkDigestsAcrossRuns(digestJson(ds))
    }
    tracer.enabled = false
    dropTables(buildTables(name))
    probes.toMap
  }

  private def layerMetrics(probes: Map[String, Double]): Seq[(String, Double, String)] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val spans = tracer.spans.toSeq
    def med(name: String, scale: Double): Double = {
      val xs = spans.filter(_.name == name).map(_.seconds * scale)
      if (xs.isEmpty) Double.NaN else median(xs)
    }
    def countsOf(name: String): Seq[Counts] =
      spans.filter(_.name == name).map(s => counter.total(tracer.subtree(s).map(_.group)))
    def perCall(name: String, f: Counts => Long): Double = {
      val cs = countsOf(name)
      if (cs.isEmpty) Double.NaN else cs.map(c => f(c).toDouble).sum / cs.length
    }
    val layers = Seq(
      ("plans.embed_kernel_s", med("plans.embed_kernel", 1), "s"),
      ("functions.normalize_s", med("functions.normalize", 1), "s"),
      ("operators.embed_s", med("operators.embed", 1), "s"),
      ("operators.kmeans_s", med("operators.kmeans", 1), "s"),
      ("operators.graph_build_s", med("operators.graph_build", 1), "s"),
      ("sources.vector_collection_s", med("sources.vector_collection", 1), "s"),
      ("sources.nsw_collection_s", med("sources.nsw_collection", 1), "s"),
      ("sources.bytes_per_doc", probes("sources.bytes_per_doc"), "bytes"),
      ("sources.upsert_ms", med("sources.upsert", 1e3), "ms"),
      ("sources.delete_ms", med("sources.delete", 1e3), "ms"),
      ("operators.ann_search_ms", med("operators.ann_search", 1e3), "ms"),
      ("operators.rag_ms", med("operators.rag", 1e3), "ms"),
      ("operators.recall_at_3", probes("operators.recall_at_3"), "ratio"),
      ("spark.jobs_per_ann", perCall("operators.ann_search", _.jobs), "count"),
      ("spark.jobs_per_rag", perCall("operators.rag", _.jobs), "count"),
      ("spark.tasks_per_ann", perCall("operators.ann_search", _.tasks), "count"),
      ("sources.crawl_archive_s", med("sources.crawl_archive", 1), "s"),
      ("operators.minhash_s", med("operators.minhash", 1), "s"),
      ("operators.curate_lang_s", med("operators.curate_lang", 1), "s"),
      ("operators.curate_e2e_s", med("operators.curate_e2e", 1), "s"),
      ("operators.dedup_keep_ratio", probes.getOrElse("operators.dedup_keep_ratio", Double.NaN), "ratio"))

    // the workload's own operation, traced in the sweep: Spark counts
    val opName = Map("rag_build" -> "op.build", "rag_serve" -> "op.turn", "crawl_curate" -> "op.curate")(workload)
    val opSpans = spans.filter(_.name == opName)
    val perOp = opSpans.map(s => counter.total(tracer.subtree(s).map(_.group)))
    def avg(f: Counts => Double): Double = perOp.map(f).sum / math.max(1, perOp.length)
    val busyShare = perOp.map(_.runMs / 1e3).sum /
      math.max(1e-9, opSpans.map(_.seconds).sum * sc.defaultParallelism)
    val traced = spans.filter(_.name == "op.turn").map(_.seconds * 1e3)
    val untraced = latencyMs.getOrElse("untraced_turn", Nil).toSeq
    val runtime = Seq(
      ("spark.jobs", avg(_.jobs.toDouble), "count"),
      ("spark.stages", avg(_.stages.toDouble), "count"),
      ("spark.tasks", avg(_.tasks.toDouble), "count"),
      ("spark.single_task_stages", avg(_.singleTaskStages.toDouble), "count"),
      ("spark.shuffle_read_bytes", avg(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", avg(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.spill_bytes", avg(_.spillBytes.toDouble), "bytes"),
      ("spark.executor_run_s", avg(_.runMs / 1e3), "s"),
      ("spark.core_busy_share", busyShare, "ratio"),
      ("spark.scheduler_wait_s", avg(_.waitMs / 1e3), "s"),
      ("trace.overhead_share",
        if (traced.isEmpty || untraced.isEmpty) Double.NaN else median(traced) / median(untraced) - 1, "ratio"))
    val tracePath = java.nio.file.Paths.get(dir).getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl")
    tracer.writeJson(tracePath, counter)
    detail("trace_file") = "\"" + tracePath + "\""
    layers ++ runtime
  }
}
