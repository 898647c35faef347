package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import graft.sources.{LandingLease, PagedFeed, Sources}
import graft.streaming.Upsert

/** Local-disk FileSystem registered under the `graftfs://` scheme —
  * lets the suite prove the Sources writers resolve any configured
  * scheme through the Hadoop FS API (the s3a:// object-store path). */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Local-disk FileSystem under the `nodelfs://` scheme whose `delete`
  * removes nothing and returns false for the paths in
  * [[UndeletableTestFs.marked]] — what `RawLocalFileSystem.delete`
  * answers when it cannot remove a file (one under a read-only
  * directory, for a non-root user). */
class UndeletableTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nodelfs:///")
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (UndeletableTestFs.marked.contains(Path.getPathWithoutSchemeAndAuthority(p).toString))
      false
    else super.delete(p, recursive)
}

object UndeletableTestFs {
  /** Scheme-less paths whose delete fails. */
  val marked: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  val schema = StructType.fromDDL("id BIGINT, name STRING, value DOUBLE")

  test("csv roundtrip preserves typed rows") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.25)).toDF("id", "name", "value")
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/out"
    Sources.writeCsv(df, tmp)
    val back = Sources.validRecords(Sources.readCsv(spark, tmp, schema))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("corrupt csv lines are quarantined, not fatal") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bad").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "part.csv"),
      "id,name,value\n1,a,1.5\nnot_a_long,b,xyz\n3,c,3.0\n")
    val raw = Sources.readCsv(spark, tmp, schema)
    assert(Sources.validRecords(raw).count() == 2)
    assert(Sources.corruptRecords(raw).count() == 1)
  }

  test("partitioned parquet sink prunes partitions for key filters") {
    val df = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0)).toDF("id", "k", "value")
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/out"
    Sources.writePartitionedParquet(df, tmp, Seq("k"))
    val back = Sources.readParquet(spark, tmp).filter(col("k") === "x")
    assert(back.count() == 2)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("jsonl roundtrip preserves rows; corrupt lines quarantined") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "value")
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/out"
    Sources.writeJsonl(df, tmp)
    val back = Sources.validRecords(Sources.readJsonl(spark, tmp, schema))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // corrupt line goes to quarantine, not a crash
    val bad = java.nio.file.Files.createTempDirectory("graft_jsonl_bad").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad, "part.json"),
      "{\"id\": 1, \"name\": \"a\", \"value\": 1.5}\nnot json at all\n")
    val raw = Sources.readJsonl(spark, bad, schema)
    assert(Sources.validRecords(raw).count() == 1)
    assert(Sources.corruptRecords(raw).count() == 1)
  }

  test("sinks and sources are path-scheme-agnostic (object-store parity)") {
    // The reference uploads its CSVs to an object store
    // (data_extraction.py:140-172 save_to_minio). Spark covers that via
    // the Hadoop FileSystem resolver: the WRITER code never inspects the
    // path, so `s3a://bucket/...` works wherever a local path does.
    // Prove it by registering a custom scheme and round-tripping
    // through URIs that only resolve via that registration.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.25)).toDF("id", "name", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_scheme").toString
    Sources.writeCsv(df, s"graftfs://$base/csv")
    val csvBack = Sources.validRecords(Sources.readCsv(spark, s"graftfs://$base/csv", schema))
    assert(csvBack.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    Sources.writePartitionedParquet(df.withColumn("k", col("name")),
      s"graftfs://$base/pq", Seq("k"))
    val pqBack = Sources.readParquet(spark, s"graftfs://$base/pq")
    assert(pqBack.count() == 2)
    // every directory mutator resolves its path through the same lookup:
    // the paged lander and its lease, the version store and retention,
    // the upsert sink and compaction
    val fs = Sources.fileSystem(spark, s"graftfs://$base")
    val feed = pagedFeedFixture(10)
    val landing = s"graftfs://$base/landing"
    assert(PagedFeed.land(spark, new PagedFeed.OrderedFramePages(feed, "id"), landing, 4) == 3)
    assert(PagedFeed.load(spark, landing).select("id", "payload").collect().toSet ==
      feed.collect().toSet)
    assert(!fs.exists(new Path(landing, "_LOCK")))
    val versions = s"graftfs://$base/versions"
    assert(Sources.appendVersion(df, spark, versions) == 1L)
    assert(Sources.overwriteVersion(df.filter(col("id") === 2L), spark, versions) == 2L)
    assert(Sources.readVersion(spark, versions, 1L).collect().toSet == df.collect().toSet)
    assert(Sources.retainVersions(spark, versions, 1) == ((Seq(1L), Seq("data/v1"))))
    assert(Sources.readVersion(spark, versions, 2L).select("id").as[Long].collect().toSeq ==
      Seq(2L))
    val table = s"graftfs://$base/table"
    Upsert.upsertIntoTable(spark, feed.withColumn("ts", col("id")), table, "id", "ts", "payload", 4)
    assert(Upsert.readTable(spark, table).select("id", "payload").collect().toSet ==
      feed.collect().toSet)
    assert(!fs.exists(new Path(table, "_LOCK")))
    val packed = Sources.compactParquet(spark, landing, s"graftfs://$base/packed", 1L << 20)
    assert(packed.select("id", "payload").collect().toSet == feed.collect().toSet)
  }

  test("bucketed tables join with zero Exchange") {
    import spark.implicits._
    val a = (0L until 100L).map(i => (i % 10, i)).toDF("k", "va")
    val b = (0L until 50L).map(i => (i % 10, i * 2)).toDF("k", "vb")
    Sources.writeBucketed(a.select(col("k").as("ka"), col("va")), "spec_bkt_a", "ka", 4)
    Sources.writeBucketed(b.select(col("k").as("kb"), col("vb")), "spec_bkt_b", "kb", 4)
    // disable broadcast so the plan must rely on bucket co-location
    // (at 100 TB neither fact side broadcasts)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("spec_bkt_a")
        .join(spark.table("spec_bkt_b"), col("ka") === col("kb"))
      assert(joined.count() == 100L * 5) // 10 va x 5 vb per key
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("mergeSchema read unions widening batch schemas, old rows null-filled") {
    import spark.implicits._
    val path = "/tmp/graft_sources/evo_spec"
    Seq((1L, "a")).toDF("id", "k").write.mode("overwrite").parquet(s"$path/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "k", "v").write.mode("overwrite").parquet(s"$path/batch=2")
    val merged = Sources.readMergedParquet(spark, path)
    assert(merged.columns.toSet == Set("id", "k", "v", "batch"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v"))) // pre-evolution row
    assert(rows(1).getAs[Double]("v") == 9.5)
  }

  test("orc roundtrip preserves rows and types under the declared schema") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "click", -2.25)
    ).toDF("id", "period", "kind", "value")
    val path = "/tmp/graft_sources/orc_spec"
    Sources.writeOrc(df, path)
    val back = Sources.readOrc(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, period TIMESTAMP, kind STRING, value DOUBLE"))
    assert(back.schema.map(f => (f.name, f.dataType.sql)) ==
      df.schema.map(f => (f.name, f.dataType.sql)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("Tables.events absorbs the feed's physical-timestamp drift") {
    // The events corpus has shipped ts as TIMESTAMP(NANOS) (surfaced as
    // a nanos-since-epoch long under nanosAsLong) and as TIMESTAMP_NTZ
    // micros (the round-6 regeneration). The loader is the storage
    // seam: every physical form must come out as one logical schema —
    // µs TimestampType with identical wall values — so operators and
    // oracle SQL never see the drift.
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampType
    val wall = "2024-01-02 03:04:05.123456"
    val micros = java.time.LocalDateTime.parse(wall.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L + 456L
    val base = java.nio.file.Files.createTempDirectory("graft_events_drift")
    def load(dir: java.nio.file.Path) = {
      val d = Tables.events(spark, dir.toString)
      assert(d.schema("ts").dataType == TimestampType, d.schema.treeString)
      d.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0)
    }
    // nanos-long generation (ns = µs*1000, the loader truncates ns->µs)
    val nanosDir = base.resolve("nanos")
    Seq((1L, micros * 1000L + 789L)).toDF("event_id", "ts")
      .write.parquet(nanosDir.resolve("events.parquet").toString)
    assert(load(nanosDir) == wall)
    // µs TIMESTAMP_NTZ generation (cast is value-preserving under UTC)
    val ntzDir = base.resolve("ntz")
    Seq(Tuple2(1L, java.time.LocalDateTime.parse(wall.replace(' ', 'T'))))
      .toDF("event_id", "ts")
      .write.parquet(ntzDir.resolve("events.parquet").toString)
    assert(load(ntzDir) == wall)
    // an already-adjusted TimestampType column passes through untouched
    val ltzDir = base.resolve("ltz")
    Seq((1L, java.sql.Timestamp.valueOf(wall))).toDF("event_id", "ts")
      .write.parquet(ltzDir.resolve("events.parquet").toString)
    assert(load(ltzDir) == wall)
  }

  test("dynamic partition overwrite replaces only the landed partitions, siblings byte-identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpo").toString + "/out"
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0))
      .toDF("id", "k", "value")
    Sources.writePartitionedParquet(df, tmp, Seq("k"))
    // fingerprint every sibling file (path -> (size, md5)) before the re-land
    def files(sub: String): Map[String, (Long, String)] = {
      val d = java.nio.file.Paths.get(tmp, sub)
      java.nio.file.Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
          p.getFileName.toString -> (bytes.length.toLong, md5)
        }.toMap
    }
    val beforeB = files("k=b"); val beforeC = files("k=c"); val beforeA = files("k=a")
    // re-land partition a only, recomputed
    Sources.relandPartitions(
      df.filter(col("k") === "a").withColumn("value", col("value") * 10), tmp, Seq("k"))
    // siblings: the SAME files, byte for byte — not rewritten copies
    assert(files("k=b") == beforeB)
    assert(files("k=c") == beforeC)
    // the landed partition was actually replaced (old files gone)
    assert(files("k=a").keySet.intersect(beforeA.keySet).isEmpty)
    val back = Sources.readParquet(spark, tmp)
      .select(col("id"), col("k").cast("string"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(back == Set((1L, "a", 10.0), (3L, "a", 30.0), (2L, "b", 2.0), (4L, "c", 4.0)))
    // negative control: a STATIC overwrite of the same one-partition
    // batch truncates the whole dataset — exactly what dynamic prevents
    Sources.writePartitionedParquet(
      df.filter(col("k") === "a"), tmp, Seq("k"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, "k=b")))
  }

  // ---- a8: offset-paginated feed landing (PagedFeed) ----

  private def pagedFeedFixture(n: Int) =
    (1 to n).map(i => (i.toLong * 10, s"rec$i")).toDF("id", "payload")

  test("PagedFeed lands a short final page and loads the exact feed with page ids") {
    val feed = pagedFeedFixture(10) // pageSize 4 -> pages of 4, 4, 2
    val dir = java.nio.file.Files.createTempDirectory("graft_paged").toString + "/feed"
    val src = new PagedFeed.OrderedFramePages(feed, "id")
    // a fresh landing probes no missing page: no query execution fails
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "paged_feed_sentinel")) sentinel.countDown()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = { failed.incrementAndGet(); () }
    }
    spark.listenerManager.register(listener)
    try {
      assert(PagedFeed.land(spark, src, dir, 4) == 3)
      // listener events arrive in order: once the sentinel's success is
      // delivered, every execution of the landing has been reported
      spark.range(1).toDF("paged_feed_sentinel").collect()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(failed.get() == 0, s"${failed.get()} query execution(s) failed in a fresh landing")
    } finally spark.listenerManager.unregister(listener)
    val back = PagedFeed.load(spark, dir)
    assert(back.select("id", "payload").collect().toSet ==
      feed.collect().toSet)
    val byPage = back.groupBy("page").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byPage == Map(0 -> 4L, 1 -> 4L, 2 -> 2L))
  }

  test("PagedFeed crash mid-page: resume refetches the torn last page, no dups or losses") {
    val feed = pagedFeedFixture(20) // pageSize 6 -> pages 6, 6, 6, 2
    val dir = java.nio.file.Files.createTempDirectory("graft_paged_crash").toString + "/feed"
    val src = new PagedFeed.OrderedFramePages(feed, "id")
    // run 1 "crashes" after landing two pages...
    assert(PagedFeed.land(spark, src, dir, 6, maxPages = 2) == 2)
    // ...and the crash TORE the last page: overwrite page=1 with only a
    // prefix of its rows (the torn-file shape a mid-write kill leaves)
    src.fetch(6, 3).write.mode("overwrite").parquet(s"$dir/page=1")
    assert(PagedFeed.load(spark, dir).count() == 9)
    // resume starts AT the torn page (its count fails the completeness
    // check), overwrites it in full, and runs out the window
    assert(PagedFeed.resumePage(spark, dir) == 1)
    assert(PagedFeed.land(spark, src, dir, 6) == 3) // pages 1, 2, 3
    val back = PagedFeed.load(spark, dir)
    assert(back.select("id", "payload").collect().toSet == feed.collect().toSet)
    // re-landing an already-complete window is a no-op (idempotent re-run)
    assert(PagedFeed.land(spark, src, dir, 6) == 0)
  }

  test("PagedFeed landing lease: a second live lander fails fast, a stale lease is taken over") {
    val feed = pagedFeedFixture(8)
    val dir = java.nio.file.Files.createTempDirectory("graft_paged_lock").toString + "/feed"
    val src = new PagedFeed.OrderedFramePages(feed, "id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def plantLock(expiry: Long): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_LOCK"), true)
      try out.write(s"other-writer-token\n$expiry".getBytes("UTF-8")) finally out.close()
    }
    // a LIVE lease (far-future expiry): the second lander must refuse
    plantLock(System.currentTimeMillis() + 3600000L)
    intercept[LandingLease.ConcurrentLandingException] {
      PagedFeed.land(spark, src, dir, 4)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/page=0")),
      "the refused lander must not have written any page")
    // a STALE lease (its writer crashed): taken over, landing proceeds,
    // and the marker is released afterwards
    plantLock(System.currentTimeMillis() - 1L)
    assert(PagedFeed.land(spark, src, dir, 4) == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_LOCK")),
      "the lease must be released after a completed landing")
    // a TORN lease (writer died mid-acquire, unparseable content): stale
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_LOCK"), true)
    try out.write("garbage".getBytes("UTF-8")) finally out.close()
    assert(PagedFeed.land(spark, src, dir, 4) == 0) // idempotent re-run, lease taken
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_LOCK")))
    // the lock never leaks into the loaded feed
    assert(PagedFeed.load(spark, dir).count() == 8)
  }

  test("PagedFeed.land below a regular file throws the I/O error, not lease contention") {
    // only an existing marker means another writer holds the lease; a
    // create that fails for any other reason surfaces as itself
    val file = java.nio.file.Paths.get(tmpDir("graft_lease_io"), "plain-file")
    java.nio.file.Files.writeString(file, "not a directory")
    val src = new PagedFeed.OrderedFramePages(pagedFeedFixture(4), "id")
    val e = intercept[java.io.IOException](PagedFeed.land(spark, src, s"$file/feed", 2))
    assert(!e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException], e.toString)
  }

  test("PagedFeed landed window merges into an accumulated feed via a5 without dups") {
    // the accumulated table already holds ids <= 100; the landed window
    // refetched an overlapping range — the a5 high-water-mark merge
    // must admit only the genuinely new rows
    val all = pagedFeedFixture(15)
    val accumulated = all.filter(col("id") <= 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_paged_merge").toString + "/feed"
    val src = new PagedFeed.OrderedFramePages(all.filter(col("id") >= 70), "id")
    PagedFeed.land(spark, src, dir, 5)
    val merged = graft.ingest.Ingest.incrementalIngest(
      accumulated, PagedFeed.load(spark, dir).drop("page"), "id")
    assert(merged.count() == 15)
    assert(merged.select("id").as[Long].collect().toSet == all.select("id").as[Long].collect().toSet)
  }

  test("compaction sizes a partitioned input by its data files") {
    // a paged landing is `page=N` directories: every data file sits one
    // level down, and all of them count toward the output file count
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_pages").toString
    val feed = (1 to 4000).map(i => (i.toLong, s"payload_$i")).toDF("id", "payload")
    PagedFeed.land(spark, new PagedFeed.OrderedFramePages(feed, "id"), s"$dir/landing", 500)
    val fs = Sources.fileSystem(spark, dir)
    val files = fs.listFiles(new Path(dir, "landing"), true)
    val bytes = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val target = 8L * 1024
    val expected = math.ceil(bytes.toDouble / target).toInt
    assert(expected > 1, s"fixture too small: $bytes bytes")
    val back = Sources.compactParquet(spark, s"$dir/landing", s"$dir/packed", target)
    assert(Sources.dataFiles(spark, s"$dir/packed").size == expected)
    assert(back.orderBy("id").collect().toSeq ==
      PagedFeed.load(spark, s"$dir/landing").orderBy("id").collect().toSeq)
  }

  test("a lease scope is released when its body throws, and a re-run completes") {
    val feed = pagedFeedFixture(12) // pageSize 4 -> pages 0, 1, 2
    val dir = java.nio.file.Files.createTempDirectory("graft_lease_throw").toString
    val fs = Sources.fileSystem(spark, dir)
    def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
    // a feed that goes down on page 1: page 0 stays landed, nothing else
    val good = new PagedFeed.OrderedFramePages(feed, "id")
    val down = new PagedFeed.PageSource {
      override def total: Long = good.total
      override def fetch(offset: Long, length: Int): org.apache.spark.sql.DataFrame =
        if (offset >= length) throw new IllegalStateException("feed down on page 1")
        else good.fetch(offset, length)
    }
    val landing = s"$dir/landing"
    intercept[IllegalStateException](PagedFeed.land(spark, down, landing, 4))
    assert(!fs.exists(new Path(landing, "_LOCK")))
    assert(PagedFeed.load(spark, landing).select("page").distinct().as[Int].collect().toSeq ==
      Seq(0))
    assert(PagedFeed.land(spark, good, landing, 4) == 2) // pages 1 and 2
    assert(PagedFeed.load(spark, landing).select("id", "payload").collect().toSet ==
      feed.collect().toSet)
    // an upsert batch whose evaluation throws leaves the table as it was
    val table = s"$dir/table"
    val base = feed.withColumn("ts", col("id"))
    Upsert.upsertIntoTable(spark, base, table, "id", "ts", "payload", 4)
    val before = Upsert.readTable(spark, table).collect().toSet
    val poisoned = base.withColumn("ts",
      when(col("id") === 50L, raise_error(lit("poisoned batch"))).otherwise(col("ts") + 100))
    val e = intercept[Exception](
      Upsert.upsertIntoTable(spark, poisoned, table, "id", "ts", "payload", 4))
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("poisoned batch")), e)
    assert(!fs.exists(new Path(table, "_LOCK")))
    assert(Upsert.readTable(spark, table).collect().toSet == before)
    val healthy = base.withColumn("ts", col("ts") + 100)
      .withColumn("payload", concat(col("payload"), lit("+")))
    Upsert.upsertIntoTable(spark, healthy, table, "id", "ts", "payload", 4)
    assert(Upsert.readTable(spark, table).select("id", "payload", "ts").collect().toSet ==
      healthy.collect().toSet)
  }

  test("compaction shrinks the file count, content layout-invariant") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val df = (1 to 1000).map(i => (i.toLong, s"row_$i", i * 1.5)).toDF("id", "name", "value")
    df.repartition(40).write.mode("overwrite").parquet(s"$dir/src")
    assert(Sources.dataFiles(spark, s"$dir/src").size == 40)
    // generous byte target -> everything packs into very few files
    val back = Sources.compactParquet(spark, s"$dir/src", s"$dir/dst", 8L << 20)
    val nOut = Sources.dataFiles(spark, s"$dir/dst").size
    assert(nOut < 40, s"expected fewer files, got $nOut")
    assert(back.count() == 1000)
    assert(back.select("id").as[Long].collect().sorted.toSeq == (1L to 1000L))
  }

  test("sorted layout: disjoint per-file key ranges from footer stats; unsorted control overlaps") {
    val dir = s"/tmp/graft_sources_test/sorted_${System.nanoTime()}"
    // ids shuffled so an unsorted write interleaves the domain
    val rows = scala.util.Random.shuffle((1L to 4000L).toList).toDF("id")
      .withColumn("payload", col("id") * 7)
    val back = Sources.writeSortedLayout(rows, s"$dir/sorted", "id", 8)
    assert(back.count() == 4000)
    assert(back.select("id").as[Long].collect().sorted.toSeq == (1L to 4000L))

    val ranges = graft.sources.ParquetStats.columnRange(spark, s"$dir/sorted", "id")
      .sortBy(_._2)
    assert(ranges.size > 1, "range partitioning must produce multiple files")
    ranges.sliding(2).foreach {
      case Seq((fa, _, maxA), (fb, minB, _)) =>
        assert(minB > maxA, s"files $fa/$fb overlap: maxA=$maxA minB=$minB")
      case _ =>
    }
    assert(ranges.head._2 == 1L && ranges.last._3 == 4000L)

    // control: the same rows written unsorted — every file spans ~the
    // whole domain, so no stats-based skipping is possible
    rows.repartition(8).write.mode("overwrite").parquet(s"$dir/plain")
    val plain = graft.sources.ParquetStats.columnRange(spark, s"$dir/plain", "id")
    assert(plain.forall { case (_, mn, mx) => mn < 500L && mx > 3500L },
      "unsorted control should interleave the domain in every file")
  }

  test("z-order layout: BOTH dimensions prune from footer stats; single-key control prunes one (g10)") {
    val dir = s"/tmp/graft_sources_test/zorder_${System.nanoTime()}"
    // a 64x64 uniform grid, shuffled: x and y are independent uniforms
    val rows = scala.util.Random.shuffle(
      (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toList)
      .toDF("x", "y").withColumn("payload", col("x") * 100 + col("y"))
    val back = Sources.writeZorderLayout(rows, s"$dir/z", "x", "y", 16)
    assert(back.count() == 4096)
    // content is layout-invariant
    assert(back.select("x", "y").as[(Long, Long)].collect().toSet ==
      (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toSet)

    def hits(path: String, column: String, point: Long): Int =
      graft.sources.ParquetStats.columnRange(spark, path, column)
        .count { case (_, mn, mx) => mn <= point && point <= mx }
    // 16 z-ordered files ~ a 4x4 grid: a point predicate on EITHER
    // dimension overlaps ~4 of 16 file boxes — at worst half
    assert(hits(s"$dir/z", "x", 33L) <= 8, "x predicate should skip files")
    assert(hits(s"$dir/z", "y", 33L) <= 8, "y predicate should skip files")

    // control: range-sorted by x alone — x prunes hard, but every
    // file spans the whole y domain and a y predicate touches ALL
    Sources.writeSortedLayout(rows, s"$dir/xsorted", "x", 16)
    assert(hits(s"$dir/xsorted", "x", 33L) <= 2)
    assert(hits(s"$dir/xsorted", "y", 33L) == 16,
      "single-key layout cannot prune the other dimension")

    // layout is content-invariant even for null-keyed rows (null z
    // sorts into one range; the row itself must survive the rewrite)
    val withNulls = Seq((Some(1L), Some(2L), "a"), (None: Option[Long], Some(5L), "b"),
      (Some(3L), None: Option[Long], "c")).toDF("x", "y", "p")
    val nb = Sources.writeZorderLayout(withNulls, s"$dir/nulls", "x", "y", 2)
    assert(nb.count() == 3)
    assert(nb.select("p").as[String].collect().toSet == Set("a", "b", "c"))
  }

  test("analyzeTable: footer-only stats equal a full scan over a multi-file dir (g11)") {
    val dir = s"/tmp/graft_sources_test/analyze_${System.nanoTime()}"
    val rows = (1L to 5000L).map(i =>
        (i, if (i % 7 == 0) None else Some(i * 3 - 1000)))
      .toDF("id", "v")
    rows.repartition(6).write.parquet(dir)
    val out = graft.sources.ParquetStats.analyzeTable(spark, dir, Seq("id", "v"))
    // the footer path must never open data pages: no parquet scan
    // node anywhere in the physical plan (the input is the file list)
    val scans = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty, "analyzeTable must not plan a data scan")
    val got = out.collect().map(r => r.getAs[String]("column_name") ->
      ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
        r.getAs[Long]("min_v"), r.getAs[Long]("max_v")))).toMap
    assert(got("id") == ((5000L, 0L, 1L, 5000L)), s"got $got")
    val nNullV = (1L to 5000L).count(_ % 7 == 0).toLong
    assert(got("v") == ((5000L, nNullV, -997L, 14000L)), s"got $got")
    // a column the writer never saw fails loudly, not silently
    val err = intercept[Exception] {
      graft.sources.ParquetStats.analyzeTable(spark, dir, Seq("ghost")).collect()
    }
    assert(err.getMessage != null)
  }

  test("csv rescue quarantines exactly the torn rows and keeps the partial parse") {
    import spark.implicits._
    val dir = s"/tmp/graft_sources_test/rescue_${System.nanoTime()}"
    val good = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5L, "click", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 6L, "view", 2.5))
      .toDF("event_id", "period", "user_id", "event_type", "value")
    graft.sources.Sources.writeCsv(good, dir)
    graft.sources.Sources.appendRawCsvPart(spark, dir, "part-torn.csv",
      "event_id,period,user_id,event_type,value\n" +
        "notanumber,2024-01-01 00:00:00,5,click,1.0\n" +
        "3,2024-01-01 02:00:00,7,buy,notadouble\n" +
        "4,tooshort\n")
    val parsed = graft.sources.Sources.readCsv(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, period TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"))
    val valid = graft.sources.Sources.validRecords(parsed)
    assert(valid.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
    val bad = graft.sources.Sources.corruptRecords(parsed).collect()
    assert(bad.length == 3)
    // raw lines preserved byte-for-byte for replay/repair
    val lines = bad.map(_.getAs[String](graft.sources.Sources.corruptCol)).toSet
    assert(lines.contains("4,tooshort"), lines.toString)
    // partial parse retained: the bad-double row still carries its id
    val badDouble = bad.find(
      _.getAs[String](graft.sources.Sources.corruptCol).endsWith("notadouble")).get
    assert(badDouble.getAs[Long]("event_id") == 3L &&
      badDouble.isNullAt(badDouble.fieldIndex("value")))
  }

  test("versioned snapshots: append-only history, atomic publish, orphan invisible") {
    import spark.implicits._
    import graft.sources.Sources
    val table = java.nio.file.Files.createTempDirectory("graft_ver").toString + "/t"
    assert(Sources.currentVersion(spark, table) == 0L)
    val v1 = Sources.appendVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), spark, table)
    val v2 = Sources.appendVersion(Seq((3L, "c")).toDF("id", "s"), spark, table)
    assert(v1 == 1L && v2 == 2L && Sources.currentVersion(spark, table) == 2L)
    // torn write: data lands, manifest never published
    Seq((99L, "orphan")).toDF("id", "s").write.parquet(s"$table/data/v3")
    // v1 is frozen history: later versions and orphans never leak in
    assert(Sources.readVersion(spark, table, 1L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    assert(Sources.readVersion(spark, table, 2L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(Sources.currentVersion(spark, table) == 2L) // orphan unpublished
    intercept[IllegalArgumentException] {
      Sources.readVersion(spark, table, 3L) // never published → must throw
    }
    // the orphan slot can be re-published cleanly (idempotent re-land)
    val v3 = Sources.appendVersion(Seq((4L, "d")).toDF("id", "s"), spark, table)
    assert(v3 == 3L && Sources.readVersion(spark, table, 3L).count() == 4L)
  }

  test("statsDrift flags range extension and null-rate jumps from footers only (b22)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_drift").toString
    // snapshot A: ids 1-10, one null user; B: ids 5-20 (max extends),
    // five null users of ten rows (null rate 0.1 -> 0.31, > 2x)
    (1L to 10L).map(i => (i, if (i == 1) None else Some(i * 2)))
      .toDF("event_id", "user_id").write.parquet(s"$base/a")
    (5L to 20L).map(i => (i, if (i <= 9) None else Some(i * 2)))
      .toDF("event_id", "user_id").write.parquet(s"$base/b")
    val out = graft.sources.ParquetStats.statsDrift(spark, s"$base/a", s"$base/b",
        Seq("event_id", "user_id")).collect()
      .map(r => r.getAs[String]("column_name") ->
        (r.getAs[Boolean]("range_extended"), r.getAs[Boolean]("null_rate_up"))).toMap
    // event_id: max 10 -> 20 extends, no nulls either side
    assert(out("event_id") == ((true, false)), out.toString)
    // user_id: range [4,20] -> [20,40] extends; nulls 1/10 -> 5/16 (>2x)
    assert(out("user_id") == ((true, true)), out.toString)
    // identical snapshots: nothing drifts
    val same = graft.sources.ParquetStats.statsDrift(spark, s"$base/a", s"$base/a",
        Seq("event_id", "user_id")).collect()
    assert(same.forall(r => !r.getAs[Boolean]("range_extended") &&
      !r.getAs[Boolean]("null_rate_up")))
  }

  test("run ledger: runs accumulate, as-of reads, torn run invisible and healed (g15)") {
    import graft.sources.{RunLedger, Sources}
    val table = java.nio.file.Files.createTempDirectory("graft_ledger").toString + "/t"
    def metrics(op: String, kv: (String, Double)*) =
      kv.toSeq.toDF("metric", "value").select(lit(op).as("operator"),
        col("metric"), col("value"))
    val t1 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-02-02 00:00:00")
    val t3 = java.sql.Timestamp.valueOf("2026-02-03 00:00:00")
    assert(RunLedger.appendRun(metrics("b9", "rows" -> 10.0), spark, table, t1) == 1L)
    assert(RunLedger.appendRun(
      metrics("c7", "rmse_e4" -> 123.0, "n_keys" -> 2.0), spark, table, t2) == 2L)
    // the full ledger is the chained current-version read
    val all = RunLedger.readLedger(spark, table).collect()
    assert(all.length == 3)
    assert(all.map(_.getAs[java.sql.Timestamp]("run_ts")).distinct.toSet == Set(t1, t2))
    // as-of run 1: only run 1's rows (what the pipeline knew then)
    assert(Sources.readVersion(spark, table, 1L).collect()
      .map(r => (r.getAs[String]("operator"), r.getAs[String]("metric"))).toSeq ==
      Seq(("b9", "rows")))
    // torn run: a crashed writer landed data but never published —
    // the ledger read must not see it (the g13 invisibility contract)
    metrics("crashed", "x" -> 1.0)
      .select(lit(t3).as("run_ts"), col("operator"), col("metric"), col("value"))
      .write.parquet(s"$table/data/v3")
    assert(RunLedger.readLedger(spark, table).count() == 3)
    assert(Sources.currentVersion(spark, table) == 2L)
    // the next append heals the orphan slot and the ledger stays exact
    assert(RunLedger.appendRun(metrics("b10", "is_valid" -> 1.0), spark, table, t3) == 3L)
    val healed = RunLedger.readLedger(spark, table).collect()
    assert(healed.length == 4)
    assert(!healed.exists(_.getAs[String]("operator") == "crashed"))
  }

  test("version retention: expired throw, live reads identical, rewrite frees dirs, idempotent") {
    import spark.implicits._
    import graft.sources.Sources
    val table = java.nio.file.Files.createTempDirectory("graft_gc").toString + "/t"
    Sources.appendVersion(Seq((1L, "a")).toDF("id", "s"), spark, table)
    Sources.appendVersion(Seq((2L, "b")).toDF("id", "s"), spark, table)
    Sources.overwriteVersion(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), spark, table)
    Sources.appendVersion(Seq((4L, "d")).toDF("id", "s"), spark, table)
    val v3Before = Sources.readVersion(spark, table, 3L).collect().sortBy(_.getLong(0)).toSeq
    val v4Before = Sources.readVersion(spark, table, 4L).collect().sortBy(_.getLong(0)).toSeq
    val (expired, removed) = Sources.retainVersions(spark, table, 2)
    // v1/v2 expired; their dirs were unreferenced after the v3 rewrite
    assert(expired == Seq(1L, 2L), expired.toString)
    assert(removed.sorted == Seq("data/v1", "data/v2"), removed.toString)
    assert(Sources.listVersions(spark, table) == Seq(3L, 4L))
    assert(Sources.versionDataDirs(spark, table) == Seq("v3", "v4"))
    // live versions read byte-identically post-GC
    assert(Sources.readVersion(spark, table, 3L).collect().sortBy(_.getLong(0)).toSeq == v3Before)
    assert(Sources.readVersion(spark, table, 4L).collect().sortBy(_.getLong(0)).toSeq == v4Before)
    // expired versions now read as never published
    intercept[IllegalArgumentException](Sources.readVersion(spark, table, 1L))
    intercept[IllegalArgumentException](Sources.readVersion(spark, table, 2L))
    // idempotent: a second run finds nothing to do
    assert(Sources.retainVersions(spark, table, 2) == (Seq.empty, Seq.empty))
    // appends keep working after GC (chain continues from the live tip)
    val v5 = Sources.appendVersion(Seq((5L, "e")).toDF("id", "s"), spark, table)
    assert(v5 == 5L && Sources.readVersion(spark, table, 5L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("version retention: shared dirs survive, in-flight dirs survive, crash mid-GC heals") {
    import spark.implicits._
    import graft.sources.Sources
    // shared-dir survival: with NO rewrite, the newest manifest still
    // references every older dir — retention may expire manifests but
    // must not delete a single shared data directory
    val tA = java.nio.file.Files.createTempDirectory("graft_gc_a").toString + "/t"
    Sources.appendVersion(Seq((1L, "a")).toDF("id", "s"), spark, tA)
    Sources.appendVersion(Seq((2L, "b")).toDF("id", "s"), spark, tA)
    val (expA, remA) = Sources.retainVersions(spark, tA, 1)
    assert(expA == Seq(1L) && remA.isEmpty, s"$expA / $remA")
    assert(Sources.versionDataDirs(spark, tA) == Seq("v1", "v2"))
    assert(Sources.readVersion(spark, tA, 2L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    // in-flight protection: a landed-but-unpublished dir numbered
    // ABOVE the newest live version is a writer mid-publish — never
    // reclaimed; an orphan AT or BELOW it is a torn relic — swept
    val tB = java.nio.file.Files.createTempDirectory("graft_gc_b").toString + "/t"
    Sources.overwriteVersion(Seq((1L, "a")).toDF("id", "s"), spark, tB)
    Sources.overwriteVersion(Seq((2L, "b")).toDF("id", "s"), spark, tB)
    Seq((9L, "torn")).toDF("id", "s").write.parquet(s"$tB/data/v1b_orphan")
    Seq((9L, "inflight")).toDF("id", "s").write.parquet(s"$tB/data/v3")
    val (expB, remB) = Sources.retainVersions(spark, tB, 1)
    assert(expB == Seq(1L), expB.toString)
    // v1 reclaimed (expired rewrite), the malformed-name orphan kept
    // (defensive), v3 kept (above live tip = possibly in flight)
    assert(remB == Seq("data/v1"), remB.toString)
    assert(Sources.versionDataDirs(spark, tB) == Seq("v1b_orphan", "v2", "v3"))
    // the in-flight slot publishes cleanly after GC
    val v3 = Sources.appendVersion(Seq((3L, "c")).toDF("id", "s"), spark, tB)
    assert(v3 == 3L)
    // lease contention: a live writer's lease makes retention fail
    // fast instead of interleaving with the publish
    val tD = java.nio.file.Files.createTempDirectory("graft_gc_d").toString + "/t"
    Sources.overwriteVersion(Seq((1L, "a")).toDF("id", "s"), spark, tD)
    val fsD = new org.apache.hadoop.fs.Path(tD).getFileSystem(
      spark.sessionState.newHadoopConf())
    LandingLease.held(fsD, tD) {
      intercept[LandingLease.ConcurrentLandingException] {
        Sources.retainVersions(spark, tD, 1)
      }
    }
    assert(Sources.retainVersions(spark, tD, 1) == (Seq.empty, Seq.empty))
    // crash mid-GC: manifests deleted but data dirs not yet — simulate
    // by hand-deleting the expired manifest, leaving v2's dir orphaned
    val tC = java.nio.file.Files.createTempDirectory("graft_gc_c").toString + "/t"
    Sources.overwriteVersion(Seq((1L, "a")).toDF("id", "s"), spark, tC)
    Sources.overwriteVersion(Seq((2L, "b")).toDF("id", "s"), spark, tC)
    Sources.overwriteVersion(Seq((3L, "c")).toDF("id", "s"), spark, tC)
    val fs = new org.apache.hadoop.fs.Path(tC).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(tC, "manifest_1"), false)
    fs.delete(new org.apache.hadoop.fs.Path(tC, "manifest_2"), false)
    assert(Sources.versionDataDirs(spark, tC) == Seq("v1", "v2", "v3"))
    // the re-run completes the interrupted cleanup: no manifests left
    // to expire, both now-unreferenced dirs swept
    val (expC, remC) = Sources.retainVersions(spark, tC, 1)
    assert(expC.isEmpty && remC.sorted == Seq("data/v1", "data/v2"), s"$expC / $remC")
    assert(Sources.readVersion(spark, tC, 3L).select("id").as[Long]
      .collect().toSeq == Seq(3L))
  }

  test("version retention keeps data dirs whose names carry no version number") {
    val table = tmpDir("graft_gc_names") + "/t"
    Sources.appendVersion(Seq((1L, "a")).toDF("id", "s"), spark, table)
    Sources.appendVersion(Seq((2L, "b")).toDF("id", "s"), spark, table)
    Seq("v", "vx").foreach(n => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(table, "data", n)))
    assert(Sources.retainVersions(spark, table, 1) == ((Seq(1L), Seq.empty)))
    assert(Sources.versionDataDirs(spark, table) == Seq("v", "v1", "v2", "vx"))
  }

  test("PagedFeed.reset throws naming a landing directory it could not delete") {
    val landing = undeletable("graft_nodel_reset", "landing")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing, "page=1"))
    val e = intercept[java.io.IOException](PagedFeed.reset(spark, s"nodelfs://$landing"))
    assert(e.getMessage.contains(landing), e.getMessage)
    // the stale page is still there, so a silent reset would have let
    // the next land resume from it
    assert(PagedFeed.resumePage(spark, s"nodelfs://$landing") == 1)
  }

  test("version retention throws on a data directory it could not delete, lease released") {
    val table = undeletable("graft_nodel_gc", "t/data/v1").stripSuffix("/data/v1")
    val t = s"nodelfs://$table"
    Sources.appendVersion(Seq((1L, "a")).toDF("id", "s"), spark, t)
    Sources.overwriteVersion(Seq((2L, "b")).toDF("id", "s"), spark, t)
    val e = intercept[java.io.IOException](Sources.retainVersions(spark, t, 1))
    assert(e.getMessage.contains(s"$table/data/v1"), e.getMessage)
    assert(Sources.versionDataDirs(spark, t) == Seq("v1", "v2"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table, "_LOCK")))
  }

  /** `<fresh temp dir>/<rel>`, marked undeletable on the `nodelfs://`
    * scheme ([[UndeletableTestFs]]), which this registers. */
  private def undeletable(prefix: String, rel: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nodelfs.impl", classOf[UndeletableTestFs].getName)
    val p = s"${tmpDir(prefix)}/$rel"
    UndeletableTestFs.marked.add(p)
    p
  }

  // ---- reading without a job, touching files without a process ----

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A `page=`-partitioned landing and a `bucket=`-partitioned upsert
    * table, the two partitioned sinks the engine reads back. */
  private def partitionedSinks(): (String, String) = {
    val root = tmpDir("graft_sinks")
    val feed = pagedFeedFixture(10)
    PagedFeed.land(spark, new PagedFeed.OrderedFramePages(feed, "id"), s"$root/landing", 4)
    graft.streaming.Upsert.upsertIntoTable(spark,
      feed.withColumn("ts", col("id")), s"$root/table", "id", "ts", "payload", 4)
    (s"$root/landing", s"$root/table")
  }

  test("footer counts skip uncommitted and staging part files, as the reader does") {
    val dir = tmpDir("graft_debris") + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").write.parquet(dir)
    // debris a crashed commit and a dynamic overwrite leave behind: real
    // parquet part files under hidden directories
    val stray = tmpDir("graft_stray") + "/s"
    Seq((9L, "x"), (8L, "y")).toDF("id", "s").coalesce(1).write.parquet(stray)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stray)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    for (debris <- Seq("_temporary/0/task_x/part-0.parquet", ".spark-staging-1/part-1.parquet"))
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, new org.apache.hadoop.fs.Path(dir, debris),
        false, spark.sessionState.newHadoopConf())
    assert(graft.sources.ParquetStats.rowCount(spark, dir) == spark.read.parquet(dir).count())
    assert(graft.sources.ParquetStats.rowCount(spark, dir) == 3L)
    assert(graft.sources.ParquetStats.columnRange(spark, dir, "id").map(_._3).max == 3L)
    // a directory holding only debris has no data file: Spark's own error
    val only = tmpDir("graft_debris_only")
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
      new org.apache.hadoop.fs.Path(only, "_temporary/0/task_x/part-0.parquet"),
      false, spark.sessionState.newHadoopConf())
    val e = intercept[org.apache.spark.sql.AnalysisException](Sources.readParquet(spark, only))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA")
  }

  test("readParquet takes the schema Spark infers: every corpus table and both partitioned sinks") {
    val (landing, table) = partitionedSinks()
    val tables = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
      "events", "documents", "embeddings").map(t => s"$sf/$t.parquet")
    for (p <- tables :+ landing :+ table) {
      val got = Sources.readParquet(spark, p)
      val inferred = spark.read.parquet(p)
      assert(got.schema == inferred.schema, p)
      assert(got.count() == inferred.count(), p)
    }
    assert(Sources.readParquet(spark, landing).schema.fieldNames.last == "page")
    assert(Sources.readParquet(spark, table).schema.fieldNames.last == "bucket")
  }

  test("building read frames starts no Spark job") {
    val (landing, table) = partitionedSinks()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc == "read_frames_sentinel") sentinel.countDown()
        else { jobs.add(s"job ${e.jobId}: ${e.stageInfos.map(_.name).mkString(", ")}"); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.documents(spark, sf)
      Tables.events(spark, sf)
      PagedFeed.load(spark, landing)
      Sources.readParquet(spark, table)
      // listener events arrive in order: once the sentinel's job start is
      // delivered, every job the reads started has been reported
      spark.sparkContext.setJobDescription("read_frames_sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.isEmpty, jobs.toArray.mkString("; "))
  }

  test("the fork-free local filesystem reports the permissions Hadoop's own reports") {
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sessionState.newHadoopConf()
    val nio = new graft.sources.NioRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(nio, stock).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
    val root = new Path(tmpDir("graft_nio"))
    val (file, dir, sticky) = (new Path(root, "f"), new Path(root, "d"), new Path(root, "s"))
    nio.create(file).close()
    nio.mkdirs(dir)
    nio.mkdirs(sticky)
    nio.setPermission(file, octal("640"))
    nio.setPermission(dir, octal("750"))
    nio.setPermission(sticky, octal("1777")) // Hadoop's own path
    def attrs(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.getPermission, st.getOwner, st.getGroup, st.getLen, st.isDirectory)
    for (p <- Seq(root, file, dir, sticky)) {
      assert(attrs(nio.getFileStatus(p)) == attrs(stock.getFileStatus(p)), p)
      assert(attrs(nio.getFileLinkStatus(p)) == attrs(stock.getFileLinkStatus(p)), p)
      assert(nio.listStatus(p).toSeq.map(attrs).sortBy(_._1) ==
        stock.listStatus(p).toSeq.map(attrs).sortBy(_._1), p)
    }
    assert(stock.getFileStatus(file).getPermission == octal("640"))
    assert(stock.getFileStatus(dir).getPermission == octal("750"))
    assert(stock.getFileStatus(sticky).getPermission.getStickyBit)
    intercept[java.io.FileNotFoundException](nio.getFileStatus(new Path(root, "missing")))
    intercept[java.io.FileNotFoundException](nio.setPermission(new Path(root, "missing"), octal("644")))
  }

  test("a session round trip spawns no process") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("graft_nofork")
    val events = Tables.events(spark, sf).limit(200)
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      events.write.parquet(s"$root/written")
      val back = Sources.readParquet(spark, s"$root/written")
      assert(graft.sources.ParquetStats.rowCount(spark, s"$root/written") == back.count())
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.rename(new org.apache.hadoop.fs.Path(root, "written"),
        new org.apache.hadoop.fs.Path(root, "renamed")))
      graft.streaming.Upsert.streamUpsert(
        spark.readStream.schema(back.schema).parquet(s"$root/renamed"),
        s"$root/latest", s"$root/checkpoint", "user_id", "ts", "event_id", 4)
        .awaitTermination()
      assert(graft.streaming.Upsert.readTable(spark, s"$root/latest").count() > 0)
    } finally { recording.stop(); () }
    val dump = java.nio.file.Files.createTempFile("graft_nofork", ".jfr")
    try {
      recording.dump(dump)
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val n = starts.size
      assert(n == 0, s"processes started, first: ${starts.take(3).mkString("; ")}")
    } finally {
      recording.close()
      java.nio.file.Files.delete(dump)
    }
  }
}
