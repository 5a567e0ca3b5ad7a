package graft.streaming

import graft.ingest.LineParser
import graft.model.{MetricPoint, TreeLimits}
import graft.names.MetricNames
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest (SURVEY.md §3.3): graphite plaintext
  * lines → validated, enriched points appended to the data table, plus
  * new tree nodes upserted into the metric-tree table — the reference's
  * MetricServer + MetricCacher + UpdateMetricQueueService collapsed into
  * one `foreachBatch` dual sink (reference micro-batching config:
  * `cacher/MetricCacher.java:49-59`; tree save:
  * `save/UpdateMetricQueueService.java:87-130`).
  *
  * Design notes for scale:
  * - Parsing is a typed `flatMap` at the boundary (per SURVEY §1.4) —
  *   the one place imperative validation logic lives.
  * - The data sink is an idempotent append partitioned by `date` so
  *   replays of a batch overwrite-or-duplicate safely: duplicates
  *   collapse at read time via A1 dedup (reference T4 semantics —
  *   at-least-once insert + version collapse).
  * - No watermark: arbitrarily-late points are accepted by design
  *   (reference T3, `server/BaseMetricFactory.java:70-73`).
  * - Tree maintenance runs one filtered scan of the tree per batch,
  *   keeping the rows of the batch's metrics and their ancestor dirs,
  *   and decides ban, newness and revival on the driver from their
  *   latest statuses (the read side's `currentTree`). The scan still
  *   reads every tree file (the tree is not laid out by name), so its
  *   cost grows with the tree. Only NEW names (SIMPLE) and revived ones
  *   are appended, as one small file.
  */
final class IngestPipeline(
    parser: LineParser = new LineParser(),
    dataPath: String,
    treePath: String,
    limits: TreeLimits = TreeLimits.none,
    limitStatsPath: Option[String] = None
) extends Serializable {

  /** Append a per-batch tree-limit refusal count to the stats table
    * (same self-metric schema as [[IngestStatsListener]], so a full-dir
    * ingest pathology is visible on a dashboard, not just in logs —
    * the reference counts these through its statistics service). Only
    * called when limits are on AND a stats path is configured; the
    * count is cheap because [[applyTreeLimits]] checkpoints its flagged
    * frame.
    *
    * `timestamp` is WALL CLOCK (so timestamp-ranged reads and
    * timestamp-based retention see the series at its true age) and the
    * replay-dedup key is the separate `batch_id` column: a replayed
    * batch (T4 at-least-once) re-appends the same (metric, batch_id)
    * and a reader collapses with `max_by(value, updated)` per
    * (metric, batch_id) — the A1 idiom, keyed on the batch instead of
    * the timestamp. (An earlier design wrote `timestamp = batchId` to
    * reuse the stock A1 key, but that rendered the series at 1970 on
    * any time-axis consumer and mis-aged it under retention.)
    *
    * MIGRATION (pre-round-6 stats paths): old refusal rows have no
    * `batch_id` column and carry the batch id IN `timestamp`. Read a
    * mixed directory with `option("mergeSchema", true)` and key the
    * dedup on `coalesce(batch_id, timestamp)` — exactly the batch id
    * under both schemas (`TreeLimitsSpec` pins the mixed read).
    */
  private def recordRefusals(spark: SparkSession, nRefused: Long, batchId: Long): Unit =
    limitStatsPath.foreach { path =>
      import spark.implicits._
      val now = (System.currentTimeMillis() / 1000).toInt
      Seq(("one_min.graft.ingest.tree_limit_refused", nRefused.toDouble))
        .toDF("metric", "value")
        .select(col("metric"), col("value"), lit(now).as("timestamp"),
          to_date(from_unixtime(lit(now.toLong))).as("date"), lit(now).as("updated"),
          lit(batchId).as("batch_id"))
        .coalesce(1)
        .write.mode("append").partitionBy("date").parquet(path)
    }

  /** Parse a micro-batch of raw lines into points. */
  def parseBatch(lines: Dataset[String], updatedSeconds: Int): Dataset[MetricPoint] = {
    import lines.sparkSession.implicits._
    val p = parser
    lines.flatMap(l => p.parse(l, updatedSeconds))
  }

  /** Tree rows (name, level, parent, status, updated) for every metric
    * AND its ancestor dirs — the trie-node creation of
    * `MetricTree.modify` (`search/tree/MetricTree.java:300-328`).
    * The names are collected and expanded on the driver by
    * [[treeNodesOf]], the same derivation [[processBatch]] writes from.
    */
  def treeNodesFor(points: DataFrame): DataFrame = {
    import points.sparkSession.implicits._
    simpleRows(points.sparkSession,
      treeNodesOf(points.select("metric").distinct().as[String].collect()))
  }

  /** "a.b.c" → ["a.", "a.b.", "a.b.c"] as a pure column expression. */
  def ancestorsCol(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parts = split(name, "\\.")
    val n = size(parts)
    transform(sequence(lit(1), n), i =>
      when(i < n, concat(array_join(slice(parts, lit(1), i), "."), lit(".")))
        .otherwise(name))
  }

  def levelCol(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dots = size(split(name, "\\.")) - 1
    when(name.endsWith("."), dots).otherwise(dots + 1)
  }

  def parentCol(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stripped = when(name.endsWith("."), name.substr(lit(1), length(name) - 1)).otherwise(name)
    val plen = length(stripped) - length(substring_index(stripped, ".", -1))
    when(plen > 0, stripped.substr(lit(1), plen)).otherwise(lit(""))
  }

  /** Dir prefixes of a parent-dir name: "a.b." → ["a.", "a.b."]; "" → [].
    * (Every ancestor dir of a node, the node's parent included.)
    */
  private def dirPrefixesCol(parent: Column): Column = {
    val parts = split(parent, "\\.")
    when(length(parent) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(parts) - 1), i =>
        concat(array_join(slice(parts, lit(1), i), "."), lit("."))))
  }

  /** Per-dir growth caps on candidate NEW tree rows (reference
    * `MetricDir.getOrCreateDir/getOrCreateMetric`,
    * `search/tree/MetricDir.java:59-95`): a dir holding >= max children
    * of a kind refuses further NEW ones, and a refused dir refuses its
    * whole subtree (`MetricTreeTest.testMetricsLimit`: a metric 3 levels
    * under a refused dir is refused too). Within a batch, siblings are
    * admitted in name order (the reference admits in arrival order; a
    * relational batch has no arrival order, so name order is the
    * deterministic, replay-stable tie-break).
    *
    * Returns (accepted new nodes, refused names — dirs AND metrics).
    * Existing nodes are never refused (the reference returns the
    * existing entry before the size check); callers pass only NEW rows.
    * `existingCounts` is (parent, __is_dir, __children) for affected
    * parents, absent on the first batch.
    *
    * Scale: every frame is bounded by the batch's name count, not the
    * tree; the window partitions by (parent, kind) within the batch.
    */
  def applyTreeLimits(newNodes: DataFrame, existingCounts: Option[DataFrame]): (DataFrame, DataFrame) = {
    val spark = newNodes.sparkSession
    import spark.implicits._
    if (!limits.enabled) return (newNodes, Seq.empty[String].toDF("name"))
    val ranked = newNodes
      .withColumn("__is_dir", col("name").endsWith("."))
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("parent"), col("__is_dir")).orderBy(col("name"))))
    val withCounts = existingCounts match {
      case Some(c) => ranked.join(broadcast(c), Seq("parent", "__is_dir"), "left")
        .na.fill(0L, Seq("__children"))
      case None => ranked.withColumn("__children", lit(0L))
    }
    val maxFor = when(col("__is_dir"), lit(limits.maxSubDirsPerDir.toLong))
      .otherwise(lit(limits.maxMetricsPerDir.toLong))
    // refuse when the dir already holds max (existing + earlier batch
    // siblings): existing + rank > max ⟺ reference's size() >= max gate
    val flagged = withCounts
      .withColumn("__over", maxFor > 0 && (col("__children") + col("__rk")) > maxFor)
      .localCheckpoint() // the window + join feed BOTH outputs below; don't recompute
    val overNames = flagged.filter(col("__over")).select("name")
    // cascade: every node under a refused dir is refused with it
    val refusedByAncestor = flagged.filter(!col("__over"))
      .select(col("name"), explode(dirPrefixesCol(col("parent"))).as("__anc"))
      .join(overNames.select(col("name").as("__anc")), Seq("__anc"), "left_semi")
      .select("name").distinct()
    val refused = overNames.unionByName(refusedByAncestor)
    val accepted = flagged.filter(!col("__over"))
      .join(refusedByAncestor, Seq("name"), "left_anti")
      .drop("__is_dir", "__rk", "__children", "__over")
    (accepted, refused)
  }

  /** One micro-batch: drop banned metrics, append points, upsert new
    * tree names, revive AUTO_HIDDEN metrics that are sending again.
    * Idempotency: replayed batches re-append (duplicates resolved by
    * read-side A1) — the reference makes the same trade (retry-forever
    * inserts, T4). Ban gate and revival mirror the reference's factory
    * path: banned names are dropped before the queue
    * (`MetricTree.java:306-309`), a written metric's status goes through
    * the transition graph where AUTO_HIDDEN → SIMPLE is allowed (T6
    * "reopens on new data"). Ban gate, new nodes and revivals are all
    * read off one status map of the batch's paths (see the class notes);
    * the first batch is the same path with an empty map.
    */
  def processBatch(points: Dataset[MetricPoint], batchId: Long): Unit = {
    val spark = points.sparkSession
    import spark.implicits._
    val df = points.toDF().cache()
    try {
      val tree = readTree(spark)
      val pathsOf = df.select("metric").distinct().as[String].collect()
        .map(m => m -> pathOf(m)).toMap
      val status = tree.fold(Map.empty[String, String])(latestStatus(_, pathsOf.values.flatten.toSet))
      // the reference ban gate rejects a metric when ANY dir on its path
      // is banned, so a banned subtree blocks new children too
      val banned = pathsOf.keySet.filter(m => pathsOf(m).exists(p => status.get(p).contains("BAN")))
      val nodes = treeNodesOf(pathsOf.keys.filterNot(banned))
      val newNodes = simpleRows(spark, nodes.filter(n => !status.contains(n._1)))
      val revived = simpleRows(spark, nodes.filter(n => status.get(n._1).contains("AUTO_HIDDEN")))
      // per-dir caps on the NEW nodes only (existing nodes always pass,
      // the reference returns the existing entry before the size check);
      // existing child counts bounded to the new nodes' parents. Points
      // of refused metrics are dropped like the reference's factory path
      // (a null tree add drops the point, `server/BaseMetricFactory.java`)
      val existingCounts =
        if (!limits.enabled) None
        else tree.map(_.join(newNodes.select("parent").distinct(), Seq("parent"), "left_semi")
          .select(col("parent"), col("name")).distinct()
          .groupBy(col("parent"), col("name").endsWith(".").as("__is_dir"))
          .agg(count(lit(1)).as("__children")))
      val (acceptedNodes, refused) = applyTreeLimits(newNodes, existingCounts)
      val refusedMetrics = refused.filter(!col("name").endsWith("."))
        .withColumnRenamed("name", "metric")
      // sort each written part by (metric, timestamp) — MergeTree
      // sorts every inserted part the same way; parquet row-group
      // min/max stats then give key-range skipping on fresh data,
      // not just compacted partitions
      df.filter(!col("metric").isin(banned.toSeq: _*))
        .join(refusedMetrics, Seq("metric"), "left_anti")
        .sortWithinPartitions("metric", "timestamp")
        .write.mode("append").partitionBy("date").parquet(dataPath)
      acceptedNodes.unionByName(revived).coalesce(1)
        .write.mode("append").parquet(treePath)
      if (limits.enabled && limitStatsPath.nonEmpty)
        recordRefusals(spark, refused.count(), batchId)
    } finally df.unpersist()
  }

  /** The tree table, or None before the first batch. An explicit
    * existence check, NOT a catch-all: a transient read error (corrupt
    * file, FS hiccup) must fail the batch so streaming retry semantics
    * stay visible, instead of silently re-appending the whole tree.
    */
  private def readTree(spark: SparkSession): Option[DataFrame] = {
    val treeP = new org.apache.hadoop.fs.Path(treePath)
    if (!treeP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(treeP)) None
    else
      try Some(spark.read.parquet(treePath))
      catch {
        // dir exists but holds no committed parquet (crash mid-first-
        // write left only _temporary/_SUCCESS): a PERMANENT state the
        // retry loop can never clear — treat as first batch. Other
        // read errors still fail the batch (retry stays visible).
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("Unable to infer schema") => None
      }
  }

  /** A name and all its ancestor dirs, "a.b.c" → [a.b.c, a.b., a.] —
    * the driver-side [[ancestorsCol]] (the same set for every name).
    */
  private def pathOf(name: String): Seq[String] =
    Iterator.iterate(name)(MetricNames.parent).takeWhile(_.nonEmpty).toSeq

  /** (name, level, parent) of every given metric and its ancestor dirs,
    * distinct and sorted — the one node derivation behind [[treeNodesFor]]
    * and [[processBatch]] (`StreamingSpec` pins it to the column forms).
    */
  private[graft] def treeNodesOf(metrics: Iterable[String]): Seq[(String, Int, String)] =
    metrics.iterator.flatMap(pathOf).toSeq.distinct.sorted
      .map(n => (n, MetricNames.level(n), MetricNames.parent(n)))

  /** SIMPLE tree rows, stamped now, for driver-side (name, level, parent) nodes. */
  private def simpleRows(spark: SparkSession, nodes: Seq[(String, Int, String)]): DataFrame = {
    import spark.implicits._
    val now = System.currentTimeMillis() / 1000
    nodes.map { case (n, level, parent) => (n, level, parent, "SIMPLE", now) }
      .toDF("name", "level", "parent", "status", "updated")
  }

  /** Latest status per tree name among `paths`: the read side's
    * [[graft.search.MetricSearchOps.currentTree]] over the tree rows of
    * just those names, collected (the set is bounded by the batch).
    * Names absent from the map are not in the tree.
    */
  private def latestStatus(tree: DataFrame, paths: Set[String]): Map[String, String] =
    graft.search.MetricSearchOps.currentTree(tree.filter(col("name").isin(paths.toSeq: _*)))
      .select("name", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Wire a (line, updated) stream — the shape [[GraphiteSourceProvider]]
    * emits, with receive-time stamping done at the socket (reference
    * `MetricServer` semantics) rather than at parse time.
    */
  def startStamped(lines: DataFrame, checkpoint: String,
                   trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    import lines.sparkSession.implicits._
    val p = parser
    lines.select(col("line"), col("updated")).as[(String, Int)]
      .flatMap { case (l, updated) => p.parse(l, updated) }
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[MetricPoint], id: Long) => processBatch(batch, id) }
      .start()
  }

  /** Wire a line stream end-to-end. Caller supplies the streaming source
    * (the custom TCP `MicroBatchStream` in production via
    * [[startStamped]]; any `Dataset[String]` here).
    */
  def start(lines: Dataset[String], checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    import lines.sparkSession.implicits._
    val p = parser
    lines
      .flatMap { l =>
        val now = (System.currentTimeMillis() / 1000).toInt
        p.parse(l, now)
      }
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[MetricPoint], id: Long) => processBatch(batch, id) }
      .start()
  }
}
