package graft

import org.apache.spark.sql.DataFrame
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

  private def tmp() = tempDir("graft-sink")

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
    def snap(d: String): Seq[(String, String, String, Double)] =
      KeyedUpsertSink.readStore(spark, d).get
        .select("trip_id", "sk", "ts", "value")
        .as[(String, String, String, Double)].collect().toSeq.sorted
    val b1 = Seq(
      ("t1", "RAW#click#1", "2024-05-25 10:00:00", 5.0),
      ("t1", "RAW#click#1", "2024-05-25 10:00:05", 5.5), // in-batch dup: last wins
      ("t2", "RAW#view#1", "2024-05-25 10:01:00", 6.0)
    ).toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 0L)
    val s1 = snap(dir)
    assert(s1.length === 2, "in-batch duplicate keys collapse (last put wins)")
    assert(s1.find(_._1 == "t1").get._4 === 5.5)

    // the at-least-once case: the SAME batch re-delivered (even under a
    // new batch id) must leave the store content identical
    KeyedUpsertSink.upsertBatch(b1, dir, keys, "ts", batchId = 1L)
    assert(snap(dir) === s1, "re-delivery duplicated or reordered the store")

    // put-overwrite: a later batch replaces the keyed row outright
    val b2 = Seq(("t1", "RAW#click#1", "2024-05-25 11:00:00", 9.0))
      .toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(b2, dir, keys, "ts", batchId = 2L)
    val s2 = snap(dir)
    assert(s2.length === 2)
    assert(s2.find(_._1 == "t1").get._4 === 9.0)

    // versionWins is pinned per store, so its half runs on its own
    // store holding the same content
    val vdir = tmp() + "/upsert_vw"
    KeyedUpsertSink.upsertBatch(b1, vdir, keys, "ts", batchId = 0L,
      versionWins = true)
    KeyedUpsertSink.upsertBatch(b2, vdir, keys, "ts", batchId = 2L,
      versionWins = true)
    assert(snap(vdir) === s2)

    // versionWins: a STALE replay cannot regress the newer stored row
    KeyedUpsertSink.upsertBatch(b1, vdir, keys, "ts", batchId = 3L,
      versionWins = true)
    assert(snap(vdir) === s2, "stale replay regressed a newer row under versionWins")

    // crash-after-write shape: the SAME batch id re-runs after its delta
    // landed; it rewrites that delta and the content holds
    KeyedUpsertSink.upsertBatch(b1, vdir, keys, "ts", batchId = 3L,
      versionWins = true)
    assert(snap(vdir) === s2, "same-batch-id re-run corrupted the store")
  }

  test("S4 pin: keys, orderCol, versionWins and bucketCols are fixed by the first upsert") {
    val dir = tmp() + "/pinned"
    val b = Seq(("t1", "RAW#1", "2024-05-25 10:00:00", 1.0))
      .toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(b, dir, Seq("trip_id", "sk"), "ts", 0L,
      versionWins = true, bucketCols = Seq("trip_id"))
    // the same pin (bucketCols may be left to the pinned value) lands
    KeyedUpsertSink.upsertBatch(b, dir, Seq("trip_id", "sk"), "ts", 1L,
      versionWins = true)
    def conflict(keys: Seq[String], orderCol: String, vw: Boolean,
        bucketCols: Seq[String]): Unit = {
      val e = intercept[IllegalArgumentException] {
        KeyedUpsertSink.upsertBatch(b, dir, keys, orderCol, 2L, vw,
          bucketCols = bucketCols)
      }
      assert(e.getMessage.contains("bucketed by"), e.getMessage)
    }
    conflict(Seq("trip_id"), "ts", vw = true, Seq.empty)
    conflict(Seq("trip_id", "sk"), "value", vw = true, Seq.empty)
    conflict(Seq("trip_id", "sk"), "ts", vw = false, Seq.empty)
    conflict(Seq("trip_id", "sk"), "ts", vw = true, Seq("sk"))
    // no conflicting upsert landed a delta
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 1L)
    assert(new java.io.File(dir, "delta").list().toSet ===
      Set("batch=0", "batch=1"))
  }

  test("S4 schema guard: an adopted delta counts as the store's shape, and adopts are checked too") {
    val base = tmp() + "/adoptguard"
    val keys = Seq("trip_id", "sk")
    def rows(id: String) = Seq((id, "RAW#1", "2024-05-25 10:00:00", 1.0))
      .toDF("trip_id", "sk", "ts", "value")
    def alien(id: String) = rows(id).withColumn("extra", lit(1L))
    // a committed parquet dir named <name>=<batchId>, as the change log writes
    def logged(df: DataFrame, batchId: Long): String = {
      val d = s"$base/changes/batch=$batchId"
      df.write.parquet(d)
      d
    }
    def adopt(src: String, store: String, batchId: Long): Unit =
      KeyedUpsertSink.adoptBatch(spark, src, store, keys, "ts", batchId,
        versionWins = true, writerId = "ing")
    def refused(f: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("two different stores"), e.getMessage)
    }
    def deltas(store: String) = new java.io.File(store, "delta").list().toSet

    // a store holding one written and one adopted delta refuses an
    // adopt of another shape, and lands nothing for it
    val store = s"$base/store"
    KeyedUpsertSink.upsertBatch(rows("t0"), store, keys, "ts", 0L,
      versionWins = true)
    adopt(logged(rows("t1"), 1L), store, 1L)
    refused(adopt(logged(alien("t2"), 2L), store, 2L))
    assert(deltas(store) === Set("batch=0", "ing=1"))

    // a store whose only committed delta is adopted: the guard reads the
    // store's shape through that delta's _SOURCE
    val adoptedOnly = s"$base/adopted_only"
    adopt(logged(rows("t3"), 3L), adoptedOnly, 3L)
    refused(KeyedUpsertSink.upsertBatch(alien("t4"), adoptedOnly, keys,
      "ts", 4L, versionWins = true))
    assert(deltas(adoptedOnly) === Set("ing=3"))

    // a matching adopt still lands
    adopt(logged(rows("t5"), 5L), store, 5L)
    assert(KeyedUpsertSink.readStore(spark, store).get
      .select("trip_id").as[String].collect().sorted.toSeq ===
      Seq("t0", "t1", "t5"))
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

  test("S4 upsert writes one delta: bytes per upsert stay flat while the store grows 10x") {
    val dir = tmp() + "/flat"
    val keys = Seq("trip_id", "sk")
    def rows(from: Int, n: Int, v: Double) = spark.range(from, from + n)
      .select(concat(lit("t"), col("id")).as("trip_id"),
        concat(lit("RAW#e"), col("id")).as("sk"),
        lit("2024-05-25 10:00:00").as("ts"), lit(v).as("value"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def files(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) { val f = it.next(); out += f.getPath.toString -> f.getLen }
      out.result()
    }
    // bytes of the files one upsert adds, whatever layout it writes
    def written(body: => Unit): Long = {
      val before = files()
      body
      (files() -- before.keySet).values.sum
    }
    // the same 50-key update batch against a 1x and a 10x store, each
    // folded into a snapshot first so the batch lands on a grown store
    val probe = rows(0, 50, 1.0).coalesce(1)
    KeyedUpsertSink.upsertBatch(rows(0, 2000, 0.0), dir, keys, "ts", 0L)
    KeyedUpsertSink.compact(spark, dir, keys)
    val small = written(KeyedUpsertSink.upsertBatch(probe, dir, keys, "ts", 1L))
    KeyedUpsertSink.upsertBatch(rows(2000, 18000, 0.0), dir, keys, "ts", 2L)
    KeyedUpsertSink.compact(spark, dir, keys)
    val big = written(KeyedUpsertSink.upsertBatch(probe, dir, keys, "ts", 3L))
    assert(small > 0L)
    assert(big <= small * 3 / 2,
      s"an upsert wrote $small bytes at 2k rows but $big bytes at 20k rows")
    val stored = KeyedUpsertSink.readStore(spark, dir).get
    assert(stored.count() === 20000L)
    assert(stored.filter(col("value") === 1.0).count() === 50L)
  }

  test("S4 long-lived store: storage stays bounded over many batches (generation GC)") {
    // 70 consecutive upserts all hammering the same few keys — the
    // linear-leak shape if folded deltas were never deleted. The
    // upserts compact by themselves every CompactAfterDeltas deltas,
    // and a compaction deletes what the previous snapshot folded, so
    // at most two rounds of deltas and two snapshots stay on disk
    // regardless of batch count.
    val dir = tmp() + "/longlived"
    val keys = Seq("trip_id", "sk")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (b <- 0 until 70) {
      val batch = (0 until 8).map(i =>
        (s"t$i", s"RAW#e$i", f"2024-05-25 10:$b%02d:$i%02d", b * 100.0 + i))
        .toDF("trip_id", "sk", "ts", "value")
      KeyedUpsertSink.upsertBatch(batch, dir, keys, "ts", batchId = b.toLong)
    }
    def dirs(sub: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir, sub))
      .filter(_.isDirectory)
    val bound = 2 * KeyedUpsertSink.CompactAfterDeltas
    assert(dirs("delta").length <= bound,
      s"delta dirs must stay bounded (<= $bound), found ${dirs("delta").length}")
    assert(dirs("base").length <= 2,
      s"snapshot dirs must stay bounded (<= 2), found ${dirs("base").length}")
    assert(graft.operators.DeltaLog.unfoldedDeltas(spark, dir) <
      KeyedUpsertSink.CompactAfterDeltas)
    // and the content is the last batch's, intact
    val stored = KeyedUpsertSink.readStore(spark, dir).get
    assert(stored.count() === 8)
    assert(stored.agg(min(col("value"))).as[Double].head() >= 6900.0,
      "store must hold the final batch's values")
  }

  test("S4 compact: one live generation, content identical, pre-compact reader survives") {
    import graft.operators.DeltaLog
    val dir = tmp() + "/compacted"
    val keys = Seq("trip_id", "sk")
    for (b <- 0 until 6) {
      val batch = (0 until 12).map(i =>
        (s"t${(b * 5 + i) % 20}", s"RAW#e$i", f"2024-05-25 10:$b%02d:$i%02d", b * 100.0 + i))
        .toDF("trip_id", "sk", "ts", "value")
      KeyedUpsertSink.upsertBatch(batch, dir, keys, "ts", batchId = b.toLong)
    }
    def rows() = KeyedUpsertSink.readStore(spark, dir).get
      .select("trip_id", "sk", "ts", "value")
      .as[(String, String, String, Double)].collect().sorted.toSeq
    def names(sub: String) = Option(new java.io.File(dir, sub).list())
      .map(_.filterNot(_.endsWith(".marks")).toSet).getOrElse(Set.empty)
    val before = rows()
    val preCompactReader = KeyedUpsertSink.readStore(spark, dir).get // lazy

    KeyedUpsertSink.compact(spark, dir, keys)

    assert(names("base") === Set("upto=5") &&
      DeltaLog.unfoldedDeltas(spark, dir) === 0,
      "the store must read one snapshot that folded every delta")
    assert(rows() === before, "compaction must not change content")
    assert(preCompactReader.count() === before.size,
      "a reader resolved before compact keeps its grace window")

    // the next compaction reclaims every delta the first one folded
    val extra = Seq(("t0", "RAW#e0", "2024-05-25 23:00:00", 9999.0))
      .toDF("trip_id", "sk", "ts", "value")
    KeyedUpsertSink.upsertBatch(extra, dir, keys, "ts", batchId = 99L)
    KeyedUpsertSink.compact(spark, dir, keys)
    assert(names("delta") === Set("batch=99"),
      s"pre-compact deltas must be reclaimed, found ${names("delta")}")
    assert(rows().size === before.size)

    // compacting again with nothing new is a no-op and stays identical
    val settled = rows()
    KeyedUpsertSink.compact(spark, dir, keys)
    assert(names("base") === Set("upto=5", "upto=99"))
    assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
    assert(rows() === settled)
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
