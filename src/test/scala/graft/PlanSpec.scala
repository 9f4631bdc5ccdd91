package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Physical-plan regression guards: the scale properties argued in the
  * scaladocs (pushdown, broadcast, bounded top-k, partial aggregation) are
  * pinned here so a refactor that silently degrades a plan fails the build,
  * not the cluster.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(SimpleMode)

  test("knn top-k compiles to TakeOrderedAndProject with a broadcast query side") {
    val p = plan(KnnOps.topK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortExec")) // no global sort anywhere
  }

  test("filtered knn pushes the label predicate into the parquet scan") {
    val p = plan(KnnOps.topKFiltered(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,3)"))
  }

  test("metadata filter reaches the scan and prunes columns") {
    val p = plan(TextOps.filterMetadata(spark, sf))
    assert(p.contains("EqualTo(lang,en)"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"))
  }

  test("dimension join broadcasts the small side") {
    val p = plan(RelOps.joinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("hash aggregation is partial (map-side combine before the exchange)") {
    val p = plan(RelOps.aggHash(spark, sf))
    assert(p.contains("partial_sum"))
    assert(p.contains("partial_count"))
  }

  test("global top-k never plans a full sort") {
    val p = plan(RelOps.sortLimit(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("batch knn aggregates with the bounded-heap, not a rank window") {
    val p = plan(KnnOps.topKBatchAgg(spark, sf))
    assert(p.toLowerCase.contains("topk_score_id"))
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"))
  }

  test("NEGATIVE: the retired rank-window batch knn shuffles every scored candidate") {
    // the formulation KnnOps.topKBatchAgg replaced (and why it replaced it):
    // the window's hash exchange carries the WHOLE scored corpus per query,
    // where the bounded-heap shuffle carries k rows per (query, map task)
    val p = plan(NegativePlans.topKBatchWindow(spark, sf))
    assert(p.contains("Window"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(query_id")), p)
    assert(!p.toLowerCase.contains("topk_score_id"), p)
  }

  test("text-query knn builds its plan without launching any job") {
    // the query embedding is a 1-row in-plan projection and the corpus dim
    // is a shared schema constant — constructing + planning the query must
    // not probe the data (a head() probe here would cost one scan per call).
    // The first-ever read of a path pays one schema-inference job, so warm
    // the loader's schema cache first: that cost is per-path-per-JVM, not
    // per-query-construction.
    import graft.sources.Tables
    Tables.embeddings(spark, sf)
    val group = "textplan-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "q_knn_text construction", false)
    val p =
      try plan(KnnOps.topKByText(spark, sf, SparkEntry.KnnTextQuery))
      finally spark.sparkContext.clearJobGroup()
    // the embed expression is foldable (literal input) — Catalyst folds
    // it to a constant vector at plan time, so either form may appear
    assert(p.toLowerCase.contains("feature_hash_embed") ||
      p.toLowerCase.contains("vec_cosine"), p)
    // The status store is fed asynchronously; events are delivered in order,
    // so once a marker job started *after* construction is visible, any job
    // construction had launched would be visible too.
    val marker = "textplan-marker-" + System.nanoTime()
    spark.sparkContext.setJobGroup(marker, "marker", false)
    try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getJobIdsForGroup(marker).isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(10)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "marker job never reached the status store")
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("table loaders cache schemas: re-reading a path plans without any job") {
    // engine-wide extension of the guard above: after the first load of a
    // path, constructing ANY scan of it must not pay a footer-inference job
    import graft.sources.Tables
    for (t <- Seq("documents", "orders", "lineitem", "customer"))
      Tables.table(spark, sf, t) // warm (no-op for paths other tests touched)
    val group = "schemacache-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "cached constructions", false)
    try {
      for (t <- Seq("documents", "orders", "lineitem", "customer"))
        Tables.table(spark, sf, t).queryExecution.executedPlan
    } finally spark.sparkContext.clearJobGroup()
    val marker = "schemacache-marker-" + System.nanoTime()
    spark.sparkContext.setJobGroup(marker, "marker", false)
    try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getJobIdsForGroup(marker).isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(10)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("bucketed collections join without any shuffle") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "bucketdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/bucketdb.db"))
    CatalogOps.createDatabase(spark, "bucketdb")
    CatalogOps.createBucketedCollection(spark, "bucketdb", "orders_b",
      Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", buckets = 4)
    CatalogOps.createBucketedCollection(spark, "bucketdb", "customer_b",
      Tables.customer(spark, sf).select(col("c_custkey"), col("c_name")),
      "c_custkey", buckets = 4)
    // Hint a merge join: the fixture dims are small enough to auto-broadcast,
    // which would bypass buckets entirely; at scale SMJ is what the planner
    // picks and what the bucket layout makes shuffle-free.
    val joined = spark.table("`bucketdb`.`orders_b`").hint("merge")
      .join(spark.table("`bucketdb`.`customer_b`"),
        col("o_custkey") === col("c_custkey"))
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange"), s"bucketed join should not shuffle:\n$p")
    assert(joined.count() === Tables.orders(spark, sf).count())
    CatalogOps.dropDatabase(spark, "bucketdb")
  }

  test("id-indexed collection: bloom filter in every footer, pushed In, exact lookup") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    CatalogOps.dropDatabase(spark, "bloomdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/bloomdb.db"))
    CatalogOps.createDatabase(spark, "bloomdb")
    CatalogOps.createIdIndexedCollection(spark, "bloomdb", "docs_ix",
      Tables.documents(spark, sf), idCol = "doc_id", shards = 3,
      expectedNdvPerGroup = 1000L)
    // every written file carries a doc_id bloom filter in its footer
    val dir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/bloomdb.db/docs_ix")
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          spark.sessionState.newHadoopConf()))
      try reader.getRowGroups.asScala.foreach { rg =>
        val chunk = rg.getColumns.asScala
          .find(_.getPath.toDotString == "doc_id").get
        assert(reader.getBloomFilterDataReader(rg).readBloomFilter(chunk) != null,
          s"row group in ${f.getName} lacks the doc_id bloom filter")
      } finally reader.close()
    }
    // point lookup: pushed In filter, exactly the probed rows, id order
    val probe = CatalogOps.lookupByIds(spark, "bloomdb", "docs_ix",
      Seq(7L, 123L, 400L))
    val p = plan(probe)
    assert("PushedFilters: \\[[^\\]]*In\\(doc_id".r.findFirstIn(p).isDefined,
      s"the id set must reach the parquet reader:\n$p")
    assert(probe.select("doc_id").collect().map(_.getLong(0)).toSeq ===
      Seq(7L, 123L, 400L))
    CatalogOps.dropDatabase(spark, "bloomdb")
  }

  test("temperature mix: corpus pass is map-side — rate table broadcasts, no corpus shuffle") {
    val p = plan(graft.operators.TextAnalysisOps.domainMixTemperature(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the 20-row rate table must broadcast:\n$p")
    // exchanges: the rate-side aggregations + the presentation sort only —
    // the corpus-side filter must not hash-shuffle corpus rows
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("source"))
    assert(hashEx <= 2, s"only the source-cardinality agg may shuffle:\n$p")
  }

  test("sessionization reuses one user_id exchange for window and group-by") {
    // partitioning by user_id satisfies the (user_id, session_id) group-by
    // distribution, so the lag window and the session aggregate share ONE
    // hash exchange (plus only the presentation sort's range exchange).
    val p = plan(EventOps.sessionize(spark, sf))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("partitioned collections prune non-matching partitions at plan time") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "partdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/partdb.db"))
    CatalogOps.createDatabase(spark, "partdb")
    CatalogOps.createPartitionedCollection(spark, "partdb", "docs_p",
      Tables.documents(spark, sf), "lang")
    val q = spark.table("`partdb`.`docs_p`").filter(col("lang") === "en")
    val p = plan(q)
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    assert(p.contains("(lang") && p.contains("= en)"), p)
    val expected = Tables.documents(spark, sf).filter(col("lang") === "en").count()
    assert(q.count() === expected)
    CatalogOps.dropDatabase(spark, "partdb")
  }

  test("IVF probe over a cell-partitioned collection prunes partitions at plan time") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "ivfplandb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfplandb.db"))
    CatalogOps.createDatabase(spark, "ivfplandb")
    CatalogOps.createIvfCollection(spark, "ivfplandb", "emb_ivf",
      Tables.embeddings(spark, sf))
    val q = KnnOps.topKIvfPartitioned(spark, "ivfplandb", "emb_ivf")
    val p = plan(q)
    // the probed cells land in PartitionFilters — the scan never opens the
    // other cell directories (vs. computing the cell per row post-read)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), p)
    // and the probe plan carries no per-row centroid assignment at all
    assert(!p.contains("vec_nearest_centroid"), p)
    // nprobe=2 of kCells=8: the partition filter enumerates exactly 2 cells
    val inList = "cell[^ ]* IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
    assert(inList.isDefined, p)
    assert(inList.get.group(1).split(",").length === 2, p)
    // and the probe still reads real data: k result rows from the fixture
    assert(q.count() === 3)
    assert(spark.table("`ivfplandb`.`emb_ivf`").count() ===
      Tables.embeddings(spark, sf).count())
    CatalogOps.dropDatabase(spark, "ivfplandb")
  }

  test("routed NSW probe prunes graph partitions at plan time") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "nswrplandb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswrplandb.db"))
    CatalogOps.createDatabase(spark, "nswrplandb")
    CatalogOps.createNswRoutedCollection(spark, "nswrplandb", "emb_nswr",
      Tables.embeddings(spark, sf))
    val qVec = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val q = GraphAnnOps.searchStoredRouted(spark, "nswrplandb", "emb_nswr",
      qVec, k = 3, efSearch = 100, nprobe = 2)
    val p = plan(q)
    // the routed cells land in PartitionFilters — the beam search never
    // deserializes the other cells' graphs (the IVF pruning contract,
    // now on the graph path too)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("part")), p)
    val inList = "part[^ ]* IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
    assert(inList.isDefined, p)
    assert(inList.get.group(1).split(",").length === 2, p)
    assert(q.count() === 3)
    CatalogOps.dropDatabase(spark, "nswrplandb")
  }

  test("quantized phase-1 scan reads codes only (scale pruned) via bounded top-k") {
    import graft.sources.CatalogOps
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    CatalogOps.dropDatabase(spark, "q8plandb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/q8plandb.db"))
    CatalogOps.createDatabase(spark, "q8plandb")
    CatalogOps.createQuantizedCollection(spark, "q8plandb", "emb_q8",
      graft.sources.Tables.embeddings(spark, sf))
    val qv = Array.fill(64)(0.5)
    val phase1 = spark.table("`q8plandb`.`emb_q8`")
      .select(col("vec_id"),
        toCol(graft.plans.Int8QueryCosine(toExpr(col("codes")), qv.toSeq)).as("ascore"))
      .orderBy(col("ascore").desc, col("vec_id").asc).limit(12)
    val p = plan(phase1)
    // the candidate pass never reads scale or label — bytes on disk that
    // stay on disk are the whole point of the quantized first pass
    assert(p.contains("ReadSchema: struct<vec_id:bigint,codes:binary>"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    CatalogOps.dropDatabase(spark, "q8plandb")
  }

  test("filtered IVF probe composes partition pruning with a pushed predicate") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "ivffiltdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivffiltdb.db"))
    CatalogOps.createDatabase(spark, "ivffiltdb")
    CatalogOps.createIvfCollection(spark, "ivffiltdb", "emb_ivf",
      Tables.embeddings(spark, sf))
    val qVec = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val q = KnnOps.topKIvfPartitionedVec(spark, "ivffiltdb", "emb_ivf", qVec,
      excludeId = 0L, k = 5, nprobe = 4, predicate = col("label") === 3)
    val p = plan(q)
    // both prunings land in the ONE scan: cells as PartitionFilters (4 of
    // 8 directories opened), the label predicate as PushedFilters
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), p)
    val inList = "cell[^ ]* IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
    assert(inList.isDefined && inList.get.group(1).split(",").length === 4, p)
    assert(p.contains("EqualTo(label,3)"), p)
    CatalogOps.dropDatabase(spark, "ivffiltdb")
  }

  test("quantized two-phase probe is ONE plan: no driver collect between phases") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "q8onedb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/q8onedb.db"))
    CatalogOps.createDatabase(spark, "q8onedb")
    CatalogOps.createQuantizedCollection(spark, "q8onedb", "emb_q8",
      Tables.embeddings(spark, sf))
    val qVec = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    // constructing + planning the probe must launch no job: phase 1 is a
    // bounded subplan broadcast into the rescore join, not a collect
    val group = "q8plan-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "quantized probe construction", false)
    val p =
      try plan(KnnOps.topKQuantized(spark, "q8onedb", "emb_q8",
        Tables.embeddings(spark, sf), qVec, excludeId = 0L,
        predicate = col("label") === 3))
      finally spark.sparkContext.clearJobGroup()
    // both phases visible in ONE physical plan: the byte-loop candidate
    // pass (bounded by TakeOrderedAndProject), the broadcast of the
    // candidate set, and the full-precision rescore
    assert(p.toLowerCase.contains("int8_query_cosine"), p)
    assert(p.toLowerCase.contains("vec_cosine"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the predicate lands in the phase-1 codes scan
    assert(p.contains("EqualTo(label,3)"), p)
    val marker = "q8plan-marker-" + System.nanoTime()
    spark.sparkContext.setJobGroup(marker, "marker", false)
    try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getJobIdsForGroup(marker).isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(10)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    CatalogOps.dropDatabase(spark, "q8onedb")
  }

  test("IVF-PQ probe multiplies both prunings in one scan: partitions AND bytes") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions.col
    CatalogOps.dropDatabase(spark, "ivfpqdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfpqdb.db"))
    CatalogOps.createDatabase(spark, "ivfpqdb")
    CatalogOps.createIvfPqCollection(spark, "ivfpqdb", "emb_ivfpq",
      Tables.embeddings(spark, sf))
    val qVec = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val q = KnnOps.topKIvfPq(spark, "ivfpqdb", "emb_ivfpq",
      Tables.embeddings(spark, sf), qVec, excludeId = 0L, nprobe = 2)
    val p = plan(q)
    // pruning #1: the probed cells are PARTITION filters (nprobe=2 of 8
    // directories opened), never a post-read predicate
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), p)
    val inList = "cell[^ ]* IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
    assert(inList.isDefined && inList.get.group(1).split(",").length === 2, p)
    // pruning #2: the phase-1 scan reads codes + norm only — no label, and
    // no vector column exists in the collection at all
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.exists(l =>
      l.contains("codes:binary") && l.contains("norm:double") &&
        !l.contains("label")), readSchemas.mkString("\n"))
    // ONE plan: ADC candidates broadcast into the full-precision rescore
    assert(p.toLowerCase.contains("pq_adc_dot"), p)
    assert(p.toLowerCase.contains("vec_cosine"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(q.count() === 3)
    CatalogOps.dropDatabase(spark, "ivfpqdb")
  }

  test("centroids aggregate vectors whole (no pre-shuffle dim-explode)") {
    val df = KnnOps.centroids(spark, sf)
    val p = plan(df)
    assert(p.toLowerCase.contains("vec_sum_count"), p)
    // one hash exchange for the label group-by (plus the presentation
    // range sort); the Generate (posexplode) must sit ABOVE the aggregate,
    // on labels x dim rows, never below it on the corpus
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate"))
    val aggIdx = lines.indexWhere(_.contains("vec_sum_count"))
    assert(genIdx >= 0 && aggIdx >= 0 && genIdx < aggIdx,
      s"posexplode must be downstream of the aggregate:\n$p")
  }

  test("embedder plans zero exchanges (pure map-side projection)") {
    val p = plan(TextAnalysisOps.embedBatch(spark, sf))
    // the only exchange allowed is the final presentation ORDER BY
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1)
  }

  test("embedder normalizes in codegen: no lambda in the analyzed plan") {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    val analyzed = TextAnalysisOps.embedVectors(spark, sf).queryExecution.analyzed
    val lambdas = analyzed.flatMap(_.expressions.flatMap(_.collect { case l: LambdaFunction => l }))
    assert(lambdas.isEmpty, analyzed.treeString)
  }

  test("quantization plans zero exchanges (pure map-side projection)") {
    val p = plan(KnnOps.quantize(spark, sf))
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p)
  }

  test("Q5 broadcasts the pruned dimensions and pushes the date filter") {
    val p = plan(RelOps.localSupplierVolume(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
    assert(p.contains("partial_sum"), p) // revenue combines map-side
  }

  test("PII redaction plans zero exchanges (pure regexp projection)") {
    val p = plan(TextAnalysisOps.redactPii(spark, sf))
    // only the presentation ORDER BY may exchange
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p)
  }

  test("EXISTS query plans a semi join with the date filter pushed down") {
    val p = plan(RelOps.orderPriorityCheck(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
  }

  test("ingest composite shuffles once (the last-writer-wins window)") {
    val p = plan(TextOps.ingestEndToEnd(spark, sf))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("training-pipeline composite stays at four exchanges") {
    // dedup window hash + countDistinct's two-phase agg + presentation sort;
    // quality gate, chunking and split assignment are all map-side
    val p = plan(TextOps.pipelineEndToEnd(spark, sf))
    assert(p.linesIterator.count(_.contains("Exchange")) <= 4, p)
    assert(p.linesIterator.count(_.contains("Generate")) === 1, p)
  }

  test("time-RANGE window reuses one user_id exchange") {
    val p = plan(RelOps.windowRange(spark, sf))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("decontamination is one map-side corpus pass over a broadcast eval row") {
    // the 100 TB claim: ONE corpus scan, no hash exchange anywhere on the
    // corpus path — the eval set collapses to a single sorted-array row
    // (nested-loop broadcast) and the overlap is a per-row sorted merge,
    // so there is no per-doc hit frame whose size could grow with
    // contamination
    val p = plan(TextAnalysisOps.decontaminate(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("sorted_probe_count"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 2, p) // corpus + eval
  }

  test("sequence packing shuffles once, on the shard key") {
    val p = plan(TextAnalysisOps.packSequences(spark, sf))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("substring dedup shuffles counts, not raw windows: two Generates, semi join on the dup set") {
    val p = plan(DedupOps.dedupSubstring(spark, sf))
    // two explodes by design — recomputing the codegen'd window hashes is
    // cheaper than shuffling a raw (doc_id, hash) row per corpus token
    assert(p.linesIterator.count(_.contains("Generate")) === 2, p)
    assert(p.contains("LeftSemi"), p)
    // the counting side partial-combines before its exchange: the window
    // explode feeds a partial HashAggregate on the hash, so the shuffle
    // carries (hash, count) rows, not one row per corpus window
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate(keys=[wh") && l.contains("partial_count")), p)
  }

  test("domain mix is map-side: no hash exchange, no join") {
    val p = plan(TextAnalysisOps.domainMix(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("tpch q6: all three predicates reach the parquet scan") {
    // formatted mode: SimpleMode truncates the PushedFilters list
    val p = RelOps.revenueChange(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,24"), p)
  }

  test("tpch q1: aggregation is two-phase (map-side partial)") {
    val p = plan(RelOps.pricingSummary(spark, sf))
    assert(p.linesIterator.count(_.contains("HashAggregate")) === 2, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("curation composite: corpus shuffles once (packing), decontamination map-side") {
    // quality + mix gates are scan-stage filters; decontamination is the
    // broadcast-eval-row sorted merge; the ONLY corpus-sized exchange is
    // the packing window's shard hash (the others carry eval n-grams)
    val p = plan(TextAnalysisOps.curateEndToEnd(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 3, p)
  }

  test("ad-hoc SQL ORDER BY vec_cosine DESC LIMIT k rewrites to the bounded-heap aggregate") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    emb.createOrReplaceTempView("plan_emb_topk")
    val qvec = emb.filter($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Double](0)
    val qlit = qvec.mkString("array(", "D, ", "D)")
    // the exact knn shape: two columns, cosine alias sorted DESC, literal k
    val df = spark.sql(
      s"""SELECT vec_id, vec_cosine(embedding, $qlit) AS score
         |FROM plan_emb_topk WHERE vec_id <> 0
         |ORDER BY score DESC LIMIT 5""".stripMargin)
    val p = plan(df)
    assert(p.toLowerCase.contains("topk_score_id"), p)
    assert(!p.contains("TakeOrderedAndProject") && !p.contains("Sort "), p)
    // a third projected column dodges the rewrite → the stock driver-merge
    // plan, which doubles as the equality baseline
    val base = spark.sql(
      s"""SELECT vec_id, vec_cosine(embedding, $qlit) AS score, 1 AS pad
         |FROM plan_emb_topk WHERE vec_id <> 0
         |ORDER BY score DESC LIMIT 5""".stripMargin)
    assert(plan(base).contains("TakeOrderedAndProject"), plan(base))
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = base.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want, "rewritten results must equal the ORDER BY LIMIT form")
    assert(got.length === 5)
  }

  test("batched SQL knn: rank-filtered row_number window rewrites to per-group heaps") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    emb.createOrReplaceTempView("plan_emb_topk_b")
    val sqlBody =
      """SELECT q.query_id, c.vec_id, vec_cosine(c.embedding, q.qvec) AS score,
        |       row_number() OVER (PARTITION BY q.query_id
        |         ORDER BY vec_cosine(c.embedding, q.qvec) DESC) AS rn
        |FROM (SELECT vec_id AS query_id, embedding AS qvec
        |      FROM plan_emb_topk_b WHERE vec_id < 2) q
        |CROSS JOIN (SELECT vec_id, embedding
        |            FROM plan_emb_topk_b WHERE vec_id >= 2) c""".stripMargin
    val df = spark.sql(
      s"SELECT query_id, vec_id, score, rn FROM ($sqlBody) WHERE rn <= 4")
    val p = plan(df)
    assert(p.toLowerCase.contains("topk_score_id"), p)
    assert(!p.contains("Window") && !p.contains("row_number"), p)
    // a second carried column dodges the rewrite → the stock window plan,
    // which doubles as the equality baseline (incl. the restored rank)
    // (a foldable pad constant gets hoisted above the filter and the
    // rewrite still fires — the dodge must be a genuinely carried column)
    val base = spark.sql(
      s"""SELECT query_id, vec_id, score, rn, pad FROM (
         |  SELECT q.query_id, c.vec_id, vec_cosine(c.embedding, q.qvec) AS score,
         |         size(c.embedding) AS pad,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY vec_cosine(c.embedding, q.qvec) DESC) AS rn
         |  FROM (SELECT vec_id AS query_id, embedding AS qvec
         |        FROM plan_emb_topk_b WHERE vec_id < 2) q
         |  CROSS JOIN (SELECT vec_id, embedding
         |              FROM plan_emb_topk_b WHERE vec_id >= 2) c) WHERE rn <= 4""".stripMargin)
    assert(plan(base).contains("Window"), plan(base))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val got = df.collect().map(key).sortBy(t => (t._1, t._4))
    val want = base.collect().map(key).sortBy(t => (t._1, t._4))
    assert(got.toSeq === want.toSeq,
      "rewritten batched knn must equal the window form, ranks included")
    assert(got.length === 8) // 2 queries × k=4
  }

  test("grouped top-k plans the bounded heap, never a rank window") {
    val p = plan(RelOps.groupTopK(spark, sf))
    assert(p.toLowerCase.contains("topk_score_id"), p)
    assert(!p.contains("row_number") && !p.contains("Window"), p)
    assert(p.contains("partial_topk_score_id") || p.toLowerCase.contains("partial"), p)
  }

  test("length batching windows are partitioned; calibration never range-sorts rows") {
    val bp = plan(TextAnalysisOps.batchByLength(spark, sf))
    // the batch-assignment windows must partition on (bucket, sub) — a
    // SinglePartition exchange would be the whole-corpus-in-one-task plan
    // the sub-shard exists to prevent (the final presentation orderBy is
    // the only global sort and TakeOrdered/driver-side)
    assert(bp.contains("windowspecdefinition(lbucket"), bp)
    assert(!bp.contains("Exchange SinglePartition"), bp)
    val cp = plan(RelOps.scoreCalibrate(spark, sf))
    // row-side work is broadcast joins; the only windowed frame is the
    // 1024-row grid
    assert(cp.contains("BroadcastNestedLoopJoin") || cp.contains("BroadcastHashJoin"), cp)
    assert(!cp.contains("SortMergeJoin"), cp)
  }

  test("bloom-reduced join filters the probe below its exchange, build rides one broadcast") {
    val p = plan(RelOps.joinBloom(spark, sf))
    // the membership probe (xxhash64 bit tests) must sit on the scan side
    // of the join's shuffle: a BroadcastNestedLoopJoin against the 1-row
    // words frame followed by a Filter, with no exchange between the
    // lineitem scan and that filter
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val filterIdx = p.indexOf("xxhash64")
    assert(filterIdx >= 0, p)
    val scanIdx = p.indexOf("FileScan parquet", filterIdx)
    assert(scanIdx >= 0, "probe scan must appear below the bloom filter")
    assert(!p.substring(filterIdx, scanIdx).contains("Exchange"),
      "no exchange between the bloom filter and the probe scan:\n" + p)
  }

  test("hot-salted join broadcasts the hot-key set on both sides, explodes only the build") {
    val p = plan(RelOps.joinSkew(spark, sf))
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2, p)
    assert(p.contains("Generate explode"), p)
  }

  test("exact quantile endgame is a bounded heap, refinement a two-phase agg") {
    // the per-round histogram: partial agg before the exchange
    import org.apache.spark.sql.functions._
    val base = graft.sources.Tables.orders(spark, sf)
      .select(col("o_totalprice").cast("double").as("v"))
    val hist = base.groupBy(floor(col("v") / 1000.0).cast("long").as("b"))
      .agg(count(lit(1)), min(col("v")), max(col("v")))
    val hp = plan(hist)
    assert(hp.contains("partial_count") && hp.contains("partial_min"), hp)
    // the endgame: orderBy.limit is TakeOrderedAndProject, not a global sort
    val end = base.orderBy(col("v").asc).limit(100)
    val ep = plan(end)
    assert(ep.contains("TakeOrderedAndProject") &&
      !ep.contains("Exchange rangepartitioning"), ep)
  }

  test("weighted sampling IS the distributed reservoir: one TakeOrderedAndProject, no exchange") {
    val p = plan(RelOps.sampleWeighted(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p) // per-partition heaps + driver merge only
  }

  test("q-digest sketch aggregation is two-phase: sketches, not rows, cross the exchange") {
    val p = plan(RelOps.quantileSketch(spark, sf))
    assert(p.contains("partial_qdigest_quantiles"), p) // map-side partial buffers
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("tpch q19's branch unions reach BOTH parquet scans") {
    val p = plan(RelOps.discountedRevenueDisjunct(spark, sf))
    // part side: brand set + size range pushed (strings truncate at the
    // metadata limit, so pin prefixes that survive it)
    assert(p.contains("In(p_brand") && p.contains("GreaterThanOrEqual(p_size,1)"), p)
    // lineitem side: Catalyst derives the quantity-branch union from the
    // disjunction and pushes it too — the scan never reads a row outside
    // the union of the three quantity windows
    assert(p.contains("GreaterThanOrEqual(l_quantity,1"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("semantic decontamination: corpus pass is map-side — eval suite broadcasts, corpus never hash-shuffles") {
    val p = plan(graft.operators.KnnOps.semanticDecontaminate(spark, sf))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the one-row eval suite must broadcast:\n$p")
    // the only hash exchange allowed is the eval-side collect_list agg
    // (single row); corpus rows ride scan → fold → presentation sort
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"corpus rows must not hash-shuffle:\n$p")
  }
}

/** Formulations RETIRED from production, kept only so PlanSpec can pin WHY
  * they were retired (the negative plan) and OperatorSpec can pin that the
  * replacement is output-identical.
  */
private[graft] object NegativePlans {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions.cosineFast

  /** The rank-window batched knn [[graft.operators.KnnOps.topKBatchAgg]]
    * replaced: broadcast queries, score, then row_number over a window
    * partitioned by query — a shuffle of EVERY scored candidate, where the
    * bounded-heap aggregate ships k rows per (query, map task).
    */
  def topKBatchWindow(spark: SparkSession, dir: String,
      nQueries: Int = 5, k: Int = 3): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val cand = emb.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(cosineFast(col("embedding"), col("q_embedding")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id").asc, col("rank").asc)
  }
}
