package graft

import graft.model.MetricPoint
import graft.names.MetricNames
import graft.streaming.IngestPipeline
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming ingest: lines → validated points → dual sink
  * (data append + tree upsert), driven by a MemoryStream.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("streaming ingest writes points and tree nodes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = pipe.start(source.toDS(), s"$dir/ckpt")
    try {
      source.addData(
        "one_min.app.host1.requests 12.0 1542199560",
        "one_min.app.host1.requests 14.0 1542199560.7", // same metric, later ts
        "one_min.app.host2.requests 7.5 1542199620",
        "bad..name 1 1542199560",                        // invalid: dropped
        "one_min.app.host1.requests x 1542199560"        // invalid: dropped
      )
      q.processAllAvailable()
      source.addData("one_min.app.host3.cpu 3.3 1542199680") // second batch
      q.processAllAvailable()
    } finally q.stop()

    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == 4, "3 valid lines in batch 1 + 1 in batch 2")
    assert(data.columns.toSet == Set("metric", "value", "timestamp", "date", "updated"))
    assert(data.filter($"metric" === "one_min.app.host1.requests").count() == 2)

    val tree = spark.read.parquet(s"$dir/tree")
    val names = tree.select("name").as[String].collect().toSet
    assert(names == Set(
      "one_min.", "one_min.app.",
      "one_min.app.host1.", "one_min.app.host2.", "one_min.app.host3.",
      "one_min.app.host1.requests", "one_min.app.host2.requests", "one_min.app.host3.cpu"
    ), s"got $names")
    // second batch added only the genuinely new nodes (ancestors deduped)
    assert(tree.count() == 8, "no duplicate tree rows across batches")
    val h1 = tree.filter($"name" === "one_min.app.host1.requests").collect()(0)
    assert(h1.getAs[Int]("level") == 4)
    assert(h1.getAs[String]("parent") == "one_min.app.host1.")
  }

  test("ingest drops banned metrics and revives auto-hidden ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bangate").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = pipe.start(source.toDS(), s"$dir/ckpt")
    try {
      source.addData(
        "one_min.app.bad.requests 1.0 1542199560",
        "one_min.app.quiet.requests 2.0 1542199560",
        "one_min.app.ok.requests 3.0 1542199560")
      q.processAllAvailable()
      Thread.sleep(1200) // status rows must be strictly newer than batch 1
      val now = System.currentTimeMillis() / 1000
      Seq(
        ("one_min.app.bad.requests", 4, "one_min.app.bad.", "BAN", now),
        ("one_min.app.quiet.requests", 4, "one_min.app.quiet.", "AUTO_HIDDEN", now)
      ).toDF("name", "level", "parent", "status", "updated")
        .write.mode("append").parquet(s"$dir/tree")
      Thread.sleep(1200) // batch 2 writes must be strictly newer than the statuses
      source.addData(
        "one_min.app.bad.requests 10.0 1542199620",   // banned: dropped
        "one_min.app.quiet.requests 20.0 1542199620", // auto-hidden: accepted + revived
        "one_min.app.ok.requests 30.0 1542199620")
      q.processAllAvailable()
    } finally q.stop()

    val data = spark.read.parquet(s"$dir/data")
    assert(data.filter($"metric" === "one_min.app.bad.requests").count() == 1,
      "banned metric's batch-2 point dropped (batch-1 point predates the ban)")
    assert(data.filter($"metric" === "one_min.app.quiet.requests").count() == 2)
    assert(data.filter($"metric" === "one_min.app.ok.requests").count() == 2)

    val current = graft.search.MetricSearchOps.currentTree(spark.read.parquet(s"$dir/tree"))
      .select("name", "status").as[(String, String)].collect().toMap
    assert(current("one_min.app.bad.requests") == "BAN", "ban NOT lifted by incoming data")
    assert(current("one_min.app.quiet.requests") == "SIMPLE",
      "AUTO_HIDDEN metric sending again reopens as SIMPLE")
  }

  test("banning a directory blocks NEW child metrics too (ancestor gate)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dirban").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = pipe.start(source.toDS(), s"$dir/ckpt")
    try {
      source.addData("one_min.spam.first.requests 1.0 1542199560")
      q.processAllAvailable()
      Thread.sleep(1200)
      val now = System.currentTimeMillis() / 1000
      // ban the DIR, not any metric name
      Seq(("one_min.spam.", 2, "one_min.", "BAN", now))
        .toDF("name", "level", "parent", "status", "updated")
        .write.mode("append").parquet(s"$dir/tree")
      Thread.sleep(1200)
      source.addData(
        "one_min.spam.first.requests 2.0 1542199620", // existing child: dropped
        "one_min.spam.brandnew.requests 3.0 1542199620", // NEW child: dropped
        "one_min.fine.x.requests 4.0 1542199620")
      q.processAllAvailable()
    } finally q.stop()
    val data = spark.read.parquet(s"$dir/data")
    assert(data.filter($"metric".startsWith("one_min.spam.")).count() == 1,
      "only the pre-ban point survives under the banned dir")
    assert(data.filter($"metric" === "one_min.fine.x.requests").count() == 1)
    // no tree node was created for the new child under the banned dir
    val names = spark.read.parquet(s"$dir/tree").select("name").as[String].collect().toSet
    assert(!names.contains("one_min.spam.brandnew.requests"))
  }

  test("ancestor/level/parent column expressions") {
    val pipe = new IngestPipeline(dataPath = "/tmp/x", treePath = "/tmp/y")
    val df = Seq("a.b.c", "solo").toDF("name")
    val anc = df.select($"name", pipe.ancestorsCol($"name").as("a"))
      .as[(String, Seq[String])].collect().toMap
    assert(anc("a.b.c") == Seq("a.", "a.b.", "a.b.c"))
    assert(anc("solo") == Seq("solo"))
    val lv = df.select($"name", pipe.levelCol($"name").as("l")).as[(String, Int)].collect().toMap
    assert(lv("a.b.c") == 3 && lv("solo") == 1)
    val par = Seq("a.b.c", "a.b.", "a.", "a").toDF("name")
      .select($"name", pipe.parentCol($"name").as("p")).as[(String, String)].collect().toMap
    assert(par("a.b.c") == "a.b." && par("a.b.") == "a." && par("a.") == "" && par("a") == "")
  }

  private val day = java.sql.Date.valueOf("2024-01-10")

  private def points(names: String*): Dataset[MetricPoint] =
    names.map(n => MetricPoint(n, 1.0, 1704844800, day, 1704844800)).toDS()

  /** Appends tree rows (name, status, updated) with their level/parent. */
  private def treeRows(treePath: String, rows: (String, String, Long)*): Unit =
    rows.map { case (n, st, u) => (n, MetricNames.level(n), MetricNames.parent(n), st, u) }
      .toDF("name", "level", "parent", "status", "updated")
      .write.mode("append").parquet(treePath)

  /** SIMPLE rows at `updated` for names and all their ancestor dirs. */
  private def simpleTree(treePath: String, updated: Long, names: String*): Unit = {
    val all = names.flatMap(n =>
      Iterator.iterate(n)(MetricNames.parent).takeWhile(_.nonEmpty)).distinct
    treeRows(treePath, all.map(n => (n, "SIMPLE", updated)): _*)
  }

  private def newPipe(prefix: String): (IngestPipeline, String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    (new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree"),
      s"$dir/data", s"$dir/tree")
  }

  private def metricsIn(dataPath: String): Seq[String] =
    spark.read.parquet(dataPath).select("metric").as[String].collect().toSeq

  test("tree nodes equal the ancestor/level/parent column expressions") {
    val pipe = new IngestPipeline(dataPath = "/tmp/x", treePath = "/tmp/y")
    // root-level metric, a deep dir chain, one-character levels, and two
    // metrics sharing ancestors (dirs must come out once)
    val names = Seq("solo", "a.b.c.d.e.f.g.metric", "x.y", "q.r.s", "q.r.t")
    val rows = pipe.treeNodesFor(names.toDF("metric"))
      .select("name", "level", "parent").as[(String, Int, String)].collect()
    val cols = names.toDF("metric").select(explode(pipe.ancestorsCol($"metric")).as("name")).distinct()
      .select($"name", pipe.levelCol($"name"), pipe.parentCol($"name")).as[(String, Int, String)].collect()
    assert(rows.length === rows.distinct.length)
    assert(rows.toSet === cols.toSet)
    assert(rows.toSet === pipe.treeNodesOf(names).toSet)
    assert(rows.contains(("solo", 1, "")))
    assert(rows.contains(("x.", 1, "")) && rows.contains(("x.y", 2, "x.")))
    assert(rows.contains(("a.b.c.d.e.f.g.", 7, "a.b.c.d.e.f.")))
  }

  test("status fold: the latest updated wins, whatever the row order") {
    val (pipe, data, tree) = newPipe("graft_fold_ban")
    val (x, y, z) = ("one_min.app.x", "one_min.app.y", "one_min.app.z")
    simpleTree(tree, 50L, x, y, z)
    treeRows(tree, (x, "BAN", 100L), (x, "APPROVED", 200L)) // ban lifted later
    treeRows(tree, (y, "APPROVED", 200L))
    treeRows(tree, (y, "BAN", 100L))                        // older ban in a newer file
    treeRows(tree, (z, "APPROVED", 100L), (z, "BAN", 200L)) // banned later
    val before = spark.read.parquet(tree).count()
    pipe.processBatch(points(x, y, z), 0L)
    assert(metricsIn(data).toSet === Set(x, y), "BAN then a later APPROVED accepts again")
    assert(spark.read.parquet(tree).count() === before, "existing names add no tree rows")
  }

  test("status fold: a later BAN on an ancestor dir drops a new grandchild, tree untouched") {
    val (pipe, data, tree) = newPipe("graft_fold_dirban")
    simpleTree(tree, 50L, "one_min.svc.h1.cpu", "one_min.other.h1.cpu")
    treeRows(tree, ("one_min.svc.", "BAN", 100L))
    pipe.processBatch(points("one_min.svc.h2.cpu", "one_min.other.h2.cpu"), 0L)
    assert(metricsIn(data) === Seq("one_min.other.h2.cpu"))
    val names = spark.read.parquet(tree).select("name").as[String].collect().toSet
    assert(!names.exists(_.startsWith("one_min.svc.h2")), "no tree row under the banned dir")
    assert(names.contains("one_min.other.h2.") && names.contains("one_min.other.h2.cpu"))
  }

  test("status fold: an AUTO_HIDDEN dir that receives a new child is revived") {
    val (pipe, data, tree) = newPipe("graft_fold_revive")
    simpleTree(tree, 50L, "one_min.app.h1.cpu")
    treeRows(tree, ("one_min.app.h1.", "AUTO_HIDDEN", 100L))
    pipe.processBatch(points("one_min.app.h1.mem"), 0L)
    assert(metricsIn(data) === Seq("one_min.app.h1.mem"))
    val current = graft.search.MetricSearchOps.currentTree(spark.read.parquet(tree))
      .select("name", "status").as[(String, String)].collect().toMap
    assert(current("one_min.app.h1.") === "SIMPLE", "dir reopens on new data")
    assert(current("one_min.app.h1.mem") === "SIMPLE")
    assert(current("one_min.app.h1.cpu") === "SIMPLE")
  }

  test("steady-state batch on a tree that holds its names fires a bounded number of jobs") {
    val (pipe, _, _) = newPipe("graft_jobs")
    val names = for (h <- 0 until 20; m <- 0 until 10) yield s"one_min.svc.host$h.m$m"
    pipe.processBatch(points(names: _*), 0L)
    val group = "graft-ingest-job-guard"
    @volatile var jobs = 0
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)        => jobs += 1
          case Some("marker-group") => markerSeen = true
          case _                    =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "steady-state processBatch")
      pipe.processBatch(points(names: _*), 1L)
      // listener events arrive in order: once the marker job's start is
      // seen, every job of the batch has been counted
      sc.setJobGroup("marker-group", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerSeen)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs > 0 && jobs <= 10, s"processBatch fired $jobs jobs")
  }
}
