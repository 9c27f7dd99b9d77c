package graft

import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshDir() = Files.createTempDirectory("snaptest").toString

  test("append then read returns the rows; manifest has lineage") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Map("m" -> 1.0))
    assert(t.read().count() === 2)
    val m = t.currentManifest.get
    assert(m.files.map(_.rows).sum === 2)
    assert(m.metrics("m") === 1.0)
  }

  test("metadata tables: files + history views match the manifest") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Map("batch" -> 1.0))
    t.commitUpsert(Seq((2L, "B")).toDF("k", "v"))
    val m = t.currentManifest.get
    val fm = t.filesMetadata(spark).collect()
    assert(fm.length === m.files.size)
    assert(fm.map(_.getAs[Long]("rows")).sum === m.files.map(_.rows).sum)
    assert(fm.map(_.getAs[Long]("snap_id")).distinct.toSeq === Seq(m.id))
    val hist = t.historyMetadata(spark).orderBy("snap_id").collect()
    assert(hist.length === t.retainedSnapshotIds.size)
    assert(hist.last.getAs[Long]("snap_id") === m.id)
    assert(hist.last.getAs[Long]("total_rows") === m.files.map(_.rows).sum)
    assert(hist.last.getAs[Long]("parent_id") === m.parent.get)
  }

  test("layout is persisted and a mismatched reopen is rejected") {
    import spark.implicits._
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k", tagCol = Some("state"),
      bucketBy = Some(("k", 4)))
    t.commitAppend(Seq((1L, "pending"), (2L, "pending")).toDF("k", "state"))
    val props = t.currentManifest.get.props
    assert(props(SnapshotTable.LayoutBucketsProp) === "4")
    assert(props(SnapshotTable.LayoutTagProp) === "state")
    // different bucket modulus: files would be written under a different
    // pmod and bucket-closed merge-on-read would silently break
    val e1 = intercept[IllegalArgumentException] {
      new SnapshotTable(spark, dir, "k", tagCol = Some("state"),
        bucketBy = Some(("k", 8)))
    }
    assert(e1.getMessage.contains("layout"))
    // different tag column
    intercept[IllegalArgumentException] {
      new SnapshotTable(spark, dir, "k", tagCol = Some("other"),
        bucketBy = Some(("k", 4)))
    }
    // identical layout reopens fine (frozenTags is NOT identity)
    val t2 = new SnapshotTable(spark, dir, "k", tagCol = Some("state"),
      frozenTags = Set("done"), bucketBy = Some(("k", 4)))
    assert(t2.read().count() === 2)
  }

  test("upsert overrides by key, append accumulates") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.commitUpsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    val rows = t.read().as[(Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("later delta wins over earlier delta") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    t.commitUpsert(Seq((1L, "x")).toDF("k", "v"))
    t.commitUpsert(Seq((1L, "y")).toDF("k", "v"))
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "y")))
  }

  test("restore rolls back; expire keeps recent snapshots readable") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    val id0 = t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    val id1 = t.commitUpsert(Seq((1L, "z")).toDF("k", "v"))
    t.restore(id0)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    t.restore(id1)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "z")))
  }

  test("expire keeps time-travel boundary snapshot resolvable; expired id fails cleanly") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    (1 to 6).foreach(i => t.commitUpsert(Seq((1L, s"v$i")).toDF("k", "v")))
    val ids = t.retainedSnapshotIds
    t.expire(keepLast = 3)
    val kept = t.retainedSnapshotIds
    assert(kept === ids.takeRight(3))
    // the BOUNDARY (oldest retained) snapshot must still resolve — q46
    // time-travels to currentId - 3, exactly this retention edge
    val boundary = kept.head
    val rows = t.readRawAt(boundary)
    assert(rows.count() > 0)
    // a retained manifest pins its data files: latest-wins over the raw
    // dump reproduces that snapshot's value for the hot key
    val resolved = rows.orderBy(org.apache.spark.sql.functions.col("__delta_seq").desc)
      .select("v").as[String].head()
    assert(resolved === s"v${boundary}")
    // reading an expired id fails cleanly (manifest json is gone)
    val expired = ids.head
    assert(!kept.contains(expired))
    intercept[Exception](t.readRawAt(expired).count())
  }

  test("incremental state-scan cache: append-extended file sets read correctly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the files behind every cached block of the table at `dir`: each
    // persisted RDD's lineage walked down to its parquet scan
    def cachedFiles(dir: String): Set[String] = {
      def files(r: org.apache.spark.rdd.RDD[_]): Seq[String] = r match {
        case f: org.apache.spark.sql.execution.datasources.FileScanRDD =>
          f.filePartitions.flatMap(_.files.map(_.filePath.toUri.getPath))
        case _ => r.dependencies.flatMap(d => files(d.rdd))
      }
      spark.sparkContext.getPersistentRDDs.values.flatMap(files).toSet
        .filter(_.startsWith(dir + "/"))
    }
    // after every step: the cache-served view equals the unpruned read,
    // every base file read so far is resident, and no cached block
    // outlives its file's stay in the manifest
    def check(t: SnapshotTable, dir: String, got: Seq[(Long, String)], c: String): Unit = {
      val want = t.read().filter(col("st") === "todo").select("k", c)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got === want)
      assert(t.readKeys().as[Long].collect().sorted.toSeq ===
        t.read().select("k").as[Long].collect().sorted.toSeq)
      val m = t.currentManifest.get
      val cached = cachedFiles(dir)
      val stale = cached -- m.files.map(f => s"$dir/${f.path}")
      assert(stale.isEmpty, s"cached blocks of files no longer in the manifest: $stale")
      val bases = m.files.filter(_.kind == "base").map(f => s"$dir/${f.path}").toSet
      assert(bases.subsetOf(cached), s"base files read but not cached: ${bases -- cached}")
    }
    // cacheStateScans on — the claim fast path; appends must be served
    // by the per-file cache without a stale or duplicated view
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k", tagCol = Some("st"),
      frozenTags = Set("done"), cacheStateScans = true)
    def rows(i: Long) = Seq((i, s"v$i", "todo")).toDF("k", "v", "st")
    t.commitAppend(rows(1))
    def wanted = t.readStates(Set("todo")).select("k", "v")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(wanted === Seq((1L, "v1")))      // caches the first file
    check(t, dir, wanted, "v")
    t.commitAppend(rows(2))                  // each appended file is cached
    t.commitAppend(rows(3))                  // on its first read
    assert(wanted === Seq((1L, "v1"), (2L, "v2"), (3L, "v3")))
    check(t, dir, wanted, "v")
    // a delta flipping a row out of the wanted tag shadows it through
    // the UNCACHED shadow-key side, on top of the cached base
    t.commitUpsert(Seq((2L, "v2", "done")).toDF("k", "v", "st"))
    assert(wanted === Seq((1L, "v1"), (3L, "v3")))
    check(t, dir, wanted, "v")
    // compaction rewrites every active file: the old ones leave the
    // manifest and their blocks with them
    assert(t.compactIfNeeded(maxDeltaCommits = 0).isDefined)
    assert(wanted === Seq((1L, "v1"), (3L, "v3")))
    check(t, dir, wanted, "v")
    // drain: every wanted row goes terminal, so after the next compaction
    // no wanted file is left and the read returns early
    t.commitUpsert(Seq((1L, "v1", "done"), (3L, "v3", "done")).toDF("k", "v", "st"))
    assert(t.compactIfNeeded(maxDeltaCommits = 0).isDefined)
    assert(t.statesReadPlan(Set("todo")).full.isEmpty)
    assert(wanted === Seq.empty)
    check(t, dir, wanted, "v")

    // bucketed: a bucket whose wanted rows all go terminal stops
    // participating, and its cached scans are released
    val bdir = freshDir()
    val bt = new SnapshotTable(spark, bdir, "k", tagCol = Some("st"),
      frozenTags = Set("done"), bucketBy = Some(("host", 3)), cacheStateScans = true)
    def hostRows(ks: Seq[Long]) = ks.map(k => (k, s"h${k % 6}", "todo")).toDF("k", "host", "st")
    def bucketWanted: Seq[(Long, String)] = {
      val scans = bt.bucketedStateScan(Set("todo")).map(_._2)
      if (scans.isEmpty) Seq.empty
      else scans.reduce(_ unionByName _)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("k").orderBy(col("__delta_seq").desc)))
        .filter(col("__rn") === 1 && col("__cand")).select("k", "host")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
    }
    bt.commitAppend(hostRows(1L to 12L))
    check(bt, bdir, bucketWanted, "host")
    bt.commitAppend(hostRows(13L to 18L))
    check(bt, bdir, bucketWanted, "host")
    val b0 = bt.currentManifest.get.files.find(_.tag == "todo").get.bucket
    val flipped = bt.read().filter(pmod(hash(col("host")), lit(3)) === b0)
      .withColumn("st", lit("done"))
    bt.commitUpsert(flipped)
    check(bt, bdir, bucketWanted, "host")
    assert(bt.compactIfNeeded(maxDeltaCommits = 0).isDefined)
    assert(!bt.currentManifest.get.files.exists(f => f.tag == "todo" && f.bucket == b0))
    assert(!bt.bucketedStateScan(Set("todo")).map(_._1).contains(b0))
    check(bt, bdir, bucketWanted, "host")
  }

  test("compaction preserves the resolved view and drops deltas") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
    (1L to 10L).foreach(i => t.commitUpsert(Seq((i, s"u$i")).toDF("k", "v")))
    val before = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    val compacted = t.compactIfNeeded(maxDeltaCommits = 4)
    assert(compacted.isDefined)
    val after = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after === before)
    assert(t.currentManifest.get.files.forall(_.kind == "base"))
  }

  test("crash between manifest write and CURRENT rename leaves the old snapshot live") {
    import spark.implicits._
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k")
    t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    // simulate the crash window: a fully-written next manifest exists,
    // but CURRENT was never flipped (the protocol's only unsafe gap is
    // handled by atomic rename — reads must keep serving snapshot 0)
    val snapDir = java.nio.file.Paths.get(dir, "snapshots")
    val m0 = Files.readString(snapDir.resolve("snap-000000.json"))
    Files.writeString(snapDir.resolve("snap-000001.json"),
      m0.replace("\"id\":0", "\"id\":1"))
    assert(t.currentId === Some(0L))
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // a later writer (restart) continues from CURRENT
    t.commitUpsert(Seq((1L, "b")).toDF("k", "v"))
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "b")))
  }

  test("readRaw + latest-wins re-derivation equals read() (the oracle contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.commitUpsert(Seq((3L, "x"), (11L, "n")).toDF("k", "v"))
    t.commitUpsert(Seq((3L, "y"), (5L, "z")).toDF("k", "v"))
    val w = Window.partitionBy("k").orderBy(col("__delta_seq").desc)
    val rederived = t.readRaw()
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    val direct = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rederived === direct)
  }

  test("fuzz: 40 random commit/compact/expire interleavings match a model map (3 seeds)") {
    import spark.implicits._
    (0 until 3).foreach { trial =>
      val r = new scala.util.Random(trial * 7 + 1)
      val t = new SnapshotTable(spark, freshDir(), "k")
      val model = scala.collection.mutable.HashMap.empty[Long, String]
      var appended = false
      (0 until 40).foreach { step =>
        val op = r.nextInt(10)
        if (!appended || op < 2) {
          // append NEW keys only (the engine's contract: appends are
          // gated to unseen keys)
          val base = model.keys.foldLeft(0L)(math.max) + 1
          val rows = (0 until 1 + r.nextInt(5)).map(i => (base + i, s"a$step-$i"))
          rows.foreach { case (k, v) => model(k) = v }
          t.commitAppend(rows.toDF("k", "v"))
          appended = true
        } else if (op < 7 && model.nonEmpty) {
          val keys = model.keys.toSeq.sorted
          val rows = (0 until 1 + r.nextInt(3))
            .map(_ => keys(r.nextInt(keys.size)))
            .distinct.map(k => (k, s"u$step-$k"))
          rows.foreach { case (k, v) => model(k) = v }
          t.commitUpsert(rows.toDF("k", "v"))
        } else if (op < 9) {
          t.compactIfNeeded(maxDeltaCommits = 3)
        } else {
          t.expire(keepLast = 4)
        }
      }
      val got = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got === model.toSeq.sortBy(_._1), s"trial $trial diverged")
      // the raw dump re-derivation must agree too (oracle contract)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k").orderBy(col("__delta_seq").desc)
      val raw = t.readRaw().withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("k", "v")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(raw === got, s"trial $trial raw re-derivation diverged")
    }
  }

  test("empty-table read after schema-bearing commit works") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq.empty[(Long, String)].toDF("k", "v"))
    assert(t.read().count() === 0)
  }
}
