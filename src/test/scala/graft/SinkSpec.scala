package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KeyedUpsertSink, KpiAggregator, KpiReportSink}
import graft.streaming.StreamingTripPipeline

/** Sink coverage (SURVEY.md par.2.1): S4 keyed store via streaming
  * foreachBatch parquet, S7 JSON report + `latest` alias, S8 CSV KPIs.
  */
class SinkSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-sink").toString

  test("S7: JSON report writes dated path and latest alias with same content") {
    val kpis = Seq(("2024-05-25", 245273.32, 4468L, 54.90, 99.99, 10.04))
      .toDF("pickup_date", "total_fare", "trip_count", "average_fare",
        "maximum_fare", "minimum_fare")
    val meta = Seq((4468L, "2024-05-25", "2024-05-25", 1L))
      .toDF("record_count", "start_date", "end_date", "kpi_count")
    val report = KpiReportSink.reportJson(kpis, meta)
    val base = tmp()
    KpiReportSink.writeJsonReport(report, base, "2024/05/25/report")

    val dated = spark.read.text(s"$base/2024/05/25/report").as[String].head()
    val latest = spark.read.text(s"$base/latest").as[String].head()
    assert(dated === latest)
    // shape check via from_json round-trip
    val parsed = spark.range(1).select(from_json(lit(dated),
      org.apache.spark.sql.types.DataType.fromDDL(
        "metadata struct<record_count:long,start_date:string,end_date:string,kpi_count:long>, " +
          "daily_kpis array<struct<pickup_date:string,total_fare:double,trip_count:long," +
          "average_fare:double,maximum_fare:double,minimum_fare:double>>")).as("r"))
      .select("r.*").head()
    assert(parsed.getStruct(0).getLong(0) === 4468L)
    assert(parsed.getSeq[org.apache.spark.sql.Row](1).length === 1)
  }

  test("S7b: completion hook fires after both writes with the record") {
    val kpis = Seq(("2024-05-25", 1.0, 1L))
      .toDF("pickup_date", "total_fare", "trip_count")
    val meta = Seq((1L, "2024-05-25")).toDF("record_count", "start_date")
    val report = KpiReportSink.reportJson(kpis, meta)
    val base = tmp()
    var record: Map[String, String] = Map.empty
    KpiReportSink.writeJsonReportNotified(report, base, "2024/05/25/report",
      r => {
        // both writes must already be readable when the hook fires
        assert(spark.read.text(s"$base/2024/05/25/report").count() === 1)
        assert(spark.read.text(s"$base/latest").count() === 1)
        record = r
      })
    assert(record("report_path") === s"$base/2024/05/25/report")
    assert(record("latest_path") === s"$base/latest")
    assert(record("rows") === "1")
    // a failing hook propagates (lost completion signal fails the job)
    intercept[RuntimeException] {
      KpiReportSink.writeJsonReportNotified(report, base, "2024/05/25/report",
        _ => throw new RuntimeException("notifier down"))
    }
  }

  test("S7 empty-input abort: no report files written for an empty KPI frame") {
    // the reference refuses to publish anything when the scan comes back
    // empty (test/test.py:211-221: SystemExit before put_object) — in
    // particular `latest/` must never be clobbered by a degenerate report
    val meta = Seq((0L, "2024-05-25")).toDF("record_count", "start_date")
    val emptyKpis = Seq.empty[(String, Double, Long)]
      .toDF("pickup_date", "total_fare", "trip_count")
    val report = KpiReportSink.reportJson(emptyKpis, meta)
    assert(report.isEmpty, "empty KPI frame must produce no report row")

    val base = tmp()
    // seed latest/ with a previous good report
    val good = KpiReportSink.reportJson(
      Seq(("2024-05-24", 1.0, 1L)).toDF("pickup_date", "total_fare", "trip_count"),
      meta)
    assert(KpiReportSink.writeJsonReport(good, base, "2024/05/24/report") === 1L)
    val before = spark.read.text(s"$base/latest").as[String].head()

    intercept[IllegalStateException] {
      KpiReportSink.writeJsonReport(report, base, "2024/05/25/report")
    }
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/2024/05/25")),
      "the dated path must not be written on an empty report")
    assert(spark.read.text(s"$base/latest").as[String].head() === before,
      "latest must keep the previous good report")
    // the notified variant aborts before the hook fires
    var fired = false
    intercept[IllegalStateException] {
      KpiReportSink.writeJsonReportNotified(report, base, "2024/05/25/report",
        _ => fired = true)
    }
    assert(!fired, "completion signal must not fire for an aborted report")
  }

  test("S8: CSV KPI sink round-trips with header") {
    val kpis = Seq(("2024-05-25", 100.0, 2L)).toDF("pickup_date", "total_fare", "trip_count")
    val dir = tmp() + "/kpis"
    KpiReportSink.writeCsvKpis(kpis, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq === Seq("pickup_date", "total_fare", "trip_count"))
    assert(back.count() === 1)
  }

  test("S4: streaming foreachBatch parquet store is append-idempotent per batch id") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val dir = tmp() + "/store"
    val validated = StreamingTripPipeline.parseAndValidate(input.toDF())
    val q = validated.writeStream
      .option("checkpointLocation", tmp() + "/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(dir)
      }
      .start()
    try {
      input.addData(Seq(
        """{"trip_id":"a","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
        """not json""",
        """{"trip_id":"b","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:30:00","fare_amount":9.5,"passenger_count":1.0}"""))
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(dir)
    assert(stored.count() === 2) // poison record filtered by validation
    assert(stored.select("trip_id").as[String].collect().toSet === Set("a", "b"))
  }

  test("S4 keyed upsert: re-delivered batch leaves store content identical; put overwrites") {
    val dir = tmp() + "/upsert"
    val keys = Seq("trip_id", "sk")
    def snap(): Seq[(String, String, String, Double)] =
      KeyedUpsertSink.readStore(spark, dir).get
        .select("trip_id", "sk", "ts", "value")
        .as[(String, String, String, Double)].collect().toSeq.sorted
    val b1 = Seq(
      ("t1", "RAW#click#1", "2024-05-25 10:00:00", 5.0),
      ("t1", "RAW#click#1", "2024-05-25 10:00:05", 5.5), // in-batch dup: last wins
      ("t2", "RAW#view#1", "2024-05-25 10:01:00", 6.0)
    ).toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 0L)
    val s1 = snap()
    assert(s1.length === 2, "in-batch duplicate keys collapse (last put wins)")
    assert(s1.find(_._1 == "t1").get._4 === 5.5)

    // the at-least-once case: the SAME batch re-delivered (even under a
    // new batch id) must leave the store content identical
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 1L)
    assert(snap() === s1, "re-delivery duplicated or reordered the store")

    // put-overwrite: a later batch replaces the keyed row outright
    val b2 = Seq(("t1", "RAW#click#1", "2024-05-25 11:00:00", 9.0))
      .toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(b2, dir, keys, "ts", batchId = 2L)
    val s2 = snap()
    assert(s2.length === 2)
    assert(s2.find(_._1 == "t1").get._4 === 9.0)

    // versionWins: a STALE replay cannot regress the newer stored row
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 3L,
      versionWins = true)
    assert(snap() === s2, "stale replay regressed a newer row under versionWins")

    // crash-after-pointer-flip shape: the SAME batch id re-runs while the
    // pointer already names its generation; the merge must not overwrite
    // the files it is reading (alternating generation suffix)
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 3L,
      versionWins = true)
    assert(snap() === s2, "same-batch-id re-run corrupted the store")
  }

  test("S4 merge null-orderCol pin: nulls rank below every value (desc NULLS LAST)") {
    // pins the r21 max_by merge to the former row_number window's
    // `orderCol.desc` (= NULLS LAST) semantics: a null-ordered row loses
    // to any non-null one on BOTH protocol shapes, in-batch and
    // batch-over-store, and an all-null key keeps a (deterministic) row
    def snap(dir: String): Seq[(String, String, Double)] =
      KeyedUpsertSink.readStore(spark, dir).get
        .select("k", "ts", "value").as[(String, String, Double)]
        .collect().toSeq.sorted
    for (vw <- Seq(false, true)) {
      val dir = tmp() + s"/nullord_$vw"
      val b1 = Seq(
        ("a", null.asInstanceOf[String], 1.0), // null ts loses in-batch
        ("a", "2024-01-01", 2.0),
        ("b", null.asInstanceOf[String], 3.0) // all-null key survives
      ).toDF("k", "ts", "value")
      KeyedUpsertSink.upsertBatch(b1, dir, Seq("k"), "ts", batchId = 0L,
        versionWins = vw)
      assert(snap(dir) === Seq(("a", "2024-01-01", 2.0), ("b", null, 3.0)),
        s"in-batch null ordering diverged (versionWins=$vw)")
      // batch-over-store: under versionWins a null-ts batch row must NOT
      // regress the stored non-null row (rank by ts first); under
      // put-overwrite the batch side wins regardless of ts
      val b2 = Seq(("a", null.asInstanceOf[String], 9.0))
        .toDF("k", "ts", "value")
      KeyedUpsertSink.upsertBatch(b2, dir, Seq("k"), "ts", batchId = 1L,
        versionWins = vw)
      val expectA = if (vw) ("a", "2024-01-01", 2.0) else ("a", null, 9.0)
      assert(snap(dir) === Seq(expectA, ("b", null, 3.0)),
        s"batch-over-store null ordering diverged (versionWins=$vw)")
    }
  }

  test("S4 bucketed upsert: untouched buckets stay byte-identical; only touched buckets rewrite") {
    import java.security.MessageDigest
    val dir = tmp() + "/bucketed"
    val keys = Seq("trip_id", "sk")
    val n = 8
    // seed rows spread across many buckets
    val b1 = (0 until 64).map(i => (s"t$i", s"RAW#e$i", f"2024-05-25 10:00:$i%02d", i.toDouble))
      .toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 0L, numBuckets = n)

    val st1 = KeyedUpsertSink.readState(spark, dir).get
    assert(st1.numBuckets === n)
    assert(st1.gens.values.toSet === Set("gen-0"), "all buckets written by the seed batch")

    // one-key update batch → exactly one touched bucket
    val hot = Seq(("t7", "RAW#e7", "2024-05-25 12:00:00", 99.0))
      .toDF("trip_id", "sk", "ts", "value")
    val hotBucket = hot.select(KeyedUpsertSink.bucketExpr(keys, n)).head().getInt(0)

    // fingerprint every file of every NON-hot bucket before the upsert
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def md5(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
        out.toByteArray
      } finally in.close()
      MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString
    }
    def bucketFiles(gen: String, b: Int): Map[String, (Long, String)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, s"$gen/bucket=$b"))
        .filter(_.isFile).filterNot(_.getPath.getName.startsWith("_"))
        .map(s => s.getPath.toString -> (s.getModificationTime, md5(s.getPath))).toMap
    val coldBuckets = st1.gens.keySet - hotBucket
    val before = coldBuckets.map(b => b -> bucketFiles(st1.gens(b), b)).toMap

    KeyedUpsertSink.upsertBatch(hot, dir, keys, "ts", batchId = 1L, numBuckets = n)

    val st2 = KeyedUpsertSink.readState(spark, dir).get
    assert(st2.gens(hotBucket) === "gen-1", "touched bucket advanced to the new generation")
    coldBuckets.foreach { b =>
      assert(st2.gens(b) === st1.gens(b), s"untouched bucket $b pointer moved")
      assert(bucketFiles(st2.gens(b), b) === before(b),
        s"untouched bucket $b files changed (path, mtime, or bytes)")
    }
    // content is still the merged whole
    val stored = KeyedUpsertSink.readStore(spark, dir).get
    assert(stored.count() === 64)
    assert(stored.filter(col("trip_id") === "t7").select("value").as[Double].head() === 99.0)

    // a second touch of the hot bucket prunes gen-1's copy only after
    // the grace window: gen-0's copy of the hot bucket is gone now
    KeyedUpsertSink.upsertBatch(hot.withColumn("value", lit(100.0)), dir, keys,
      "ts", batchId = 2L, numBuckets = n)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, s"gen-0/bucket=$hotBucket")),
      "superseded-twice bucket copy should be pruned")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, s"gen-1/bucket=$hotBucket")),
      "one-generation grace window keeps the previous copy")
    coldBuckets.foreach { b =>
      assert(bucketFiles("gen-0", b) === before(b), "cold buckets still untouched after two upserts")
    }
  }

  test("S4 long-lived store: storage stays bounded over many batches (generation GC)") {
    // 20 consecutive upserts all hammering the same few keys — the
    // linear-leak shape if superseded generations were never pruned.
    // Bound: each bucket keeps at most its current copy + the
    // one-generation grace copy, and empty generation dirs are removed,
    // so total bucket-dir copies <= 2 * numBuckets and live generation
    // dirs <= numBuckets + 1 regardless of batch count.
    val dir = tmp() + "/longlived"
    val keys = Seq("trip_id", "sk")
    val n = 4
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (b <- 0 until 20) {
      val batch = (0 until 8).map(i =>
        (s"t$i", s"RAW#e$i", f"2024-05-25 10:$b%02d:$i%02d", b * 100.0 + i))
        .toDF("trip_id", "sk", "ts", "value")
      KeyedUpsertSink.upsertBatch(batch, dir, keys, "ts", batchId = b.toLong,
        numBuckets = n)
    }
    val genDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
    val bucketCopies = genDirs.flatMap(g => fs.listStatus(g.getPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")))
    assert(bucketCopies.length <= 2 * n,
      s"bucket-dir copies must stay bounded (<= ${2 * n}), found ${bucketCopies.length}")
    assert(genDirs.length <= n + 1,
      s"generation dirs must stay bounded (<= ${n + 1}), found ${genDirs.length}")
    // and the content is the last batch's, intact
    val stored = KeyedUpsertSink.readStore(spark, dir).get
    assert(stored.count() === 8)
    assert(stored.agg(min(col("value"))).as[Double].head() >= 1900.0,
      "store must hold the final batch's values")
  }

  test("S4 compact: one live generation, content identical, pre-compact reader survives") {
    val dir = tmp() + "/compacted"
    val keys = Seq("trip_id", "sk")
    val n = 4
    for (b <- 0 until 6) {
      val batch = (0 until 12).map(i =>
        (s"t${(b * 5 + i) % 20}", s"RAW#e$i", f"2024-05-25 10:$b%02d:$i%02d", b * 100.0 + i))
        .toDF("trip_id", "sk", "ts", "value")
      KeyedUpsertSink.upsertBatch(batch, dir, keys, "ts", batchId = b.toLong,
        numBuckets = n)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def rows() = KeyedUpsertSink.readStore(spark, dir).get
      .select("trip_id", "sk", "ts", "value")
      .as[(String, String, String, Double)].collect().sorted.toSeq
    val before = rows()
    val preCompactReader = KeyedUpsertSink.readStore(spark, dir).get // lazy

    KeyedUpsertSink.compact(spark, dir, keys)

    val st = KeyedUpsertSink.readState(spark, dir).get
    assert(st.gens.values.toSet === Set("gen-compact"),
      "every bucket pointer must name the compacted generation")
    assert(rows() === before, "compaction must not change content")
    assert(preCompactReader.count() === before.size,
      "a reader resolved before compact keeps its grace window")

    // the next upsert reclaims every pre-compact generation entirely
    val extra = Seq(("t0", "RAW#e0", "2024-05-25 23:00:00", 9999.0))
      .toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(extra, dir, keys, "ts", batchId = 99L, numBuckets = n)
    val remaining = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
      .map(_.getPath.getName).toSet
    assert(remaining.subsetOf(Set("gen-compact", "gen-99")),
      s"pre-compact generations must be reclaimed, found $remaining")
    assert(rows().size === before.size)

    // compacting again picks a fresh name and stays identical
    KeyedUpsertSink.compact(spark, dir, keys)
    assert(KeyedUpsertSink.readState(spark, dir).get.gens.values.toSet.size === 1)
    assert(rows().map(r => (r._1, r._2)).toSet === before.map(r => (r._1, r._2)).toSet)
  }

  test("S4 keyed upsert drives a streaming foreachBatch store") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val dir = tmp() + "/upsert_stream"
    val validated = StreamingTripPipeline.parseAndValidate(input.toDF())
      .withColumn("sk", concat_ws("#", col("data_type"), col("trip_id")))
    val q = validated.writeStream
      .option("checkpointLocation", tmp() + "/ckpt_upsert")
      .foreachBatch(KeyedUpsertSink.upserter(dir, Seq("trip_id", "sk"), "event_ts"))
      .start()
    try {
      input.addData(Seq(
        """{"trip_id":"a","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
        """{"trip_id":"a","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
        """{"trip_id":"b","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:30:00","fare_amount":9.5,"passenger_count":1.0}"""))
      q.processAllAvailable()
    } finally q.stop()
    val stored = KeyedUpsertSink.readStore(spark, dir).get
    assert(stored.count() === 2, "keyed store holds one row per (trip_id, sk)")
    assert(stored.select("trip_id").as[String].collect().toSet === Set("a", "b"))
  }

  test("partitioned day layout: pruned read touches one partition") {
    import org.apache.spark.sql.functions.to_date
    val df = Seq(("2024-05-25", 1.0), ("2024-05-26", 2.0), ("2024-06-01", 3.0))
      .toDF("d", "v").withColumn("d", to_date(col("d")))
    val dir = tmp() + "/bydate"
    KpiReportSink.writePartitionedByDay(df, "d", dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    val pruned = back.filter(col("year") === 2024 && col("month") === 5 && col("day") === 25)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"expected partition pruning in:\n$plan")
    assert(pruned.count() === 1)
  }

  test("streaming KPIs land in the partitioned day layout via foreachBatch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val dir = tmp() + "/kpi_days"
    val trips = tmp()
    // the KPI stream is its own query over the matcher's parquet output
    val completed = StreamingTripPipeline.pipeline(input.toDF())
    val matcher = completed.writeStream.format("parquet")
      .option("checkpointLocation", tmp()).start(trips)
    val q = StreamingTripPipeline.dailyKpiStream(
        spark.readStream.schema(completed.schema).parquet(trips))
      .writeStream
      .option("checkpointLocation", tmp() + "/ckpt2")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          KpiReportSink.writePartitionedByDay(batch, "pickup_date", dir)
        }
      }
      .outputMode("append")
      .start()
    try {
      input.addData(Seq(
        """{"trip_id":"d1","data_type":"trip_start","pickup_datetime":"2024-05-25 09:00:00"}""",
        """{"trip_id":"d1","data_type":"trip_end","dropoff_datetime":"2024-05-25 09:20:00","fare_amount":12.0,"passenger_count":1.0}"""))
      matcher.processAllAvailable(); q.processAllAvailable()
      // advance both watermark sides far enough to close the 05-25 window
      input.addData(Seq(
        """{"trip_id":"d2","data_type":"trip_start","pickup_datetime":"2024-05-29 09:00:00"}""",
        """{"trip_id":"d2","data_type":"trip_end","dropoff_datetime":"2024-05-29 09:10:00","fare_amount":1.0,"passenger_count":1.0}"""))
      matcher.processAllAvailable(); q.processAllAvailable()
    } finally { q.stop(); matcher.stop() }
    val back = spark.read.parquet(dir)
    assert(back.filter(col("year") === 2024 && col("month") === 5 && col("day") === 25).count() === 1)
    assert(back.select("total_fare").as[Double].collect().toSet === Set(12.0))
  }

  test("KPI report end-to-end from the reference tables") {
    val trips = Tables.orders(spark, "/root/testdata/sf0.001")
      .join(Tables.lineitem(spark, "/root/testdata/sf0.001"),
        col("o_orderkey") === col("l_orderkey"))
    val kpis = KpiAggregator.dailyKpis(trips, to_date(col("o_orderdate")),
      col("l_extendedprice"), col("l_orderkey"))
    val meta = KpiAggregator.reportMetadata(trips, kpis, to_date(col("o_orderdate")))
    val report = KpiReportSink.reportJson(kpis, meta).as[String].head()
    assert(report.contains("\"metadata\""))
    assert(report.contains("\"daily_kpis\""))
  }
}
