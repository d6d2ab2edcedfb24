package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics specs: salted aggregation parity and bucketed
  * co-located joins (the two SURVEY §5 shuffle-elimination levers that
  * need runtime evidence, not just plan reading).
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("salted aggregation equals plain aggregation") {
    val ev = Tables.events(spark, sf)
    val salted = operators.Skew.saltedAgg(ev, Seq("user_id"), "value",
      col("event_id"), salts = 8)
      .select(col("user_id"), round(col("sum_value"), 6).as("s"), col("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val plain = ev.groupBy("user_id")
      .agg(round(sum("value"), 6).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("partition pruning: date-partitioned sink scans only matching partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val ev = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    val oneDay = spark.read.parquet(dir)
      .filter(col("day") === lit("2024-01-03"))
    oneDay.collect()
    val scan = oneDay.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(day"),
      s"expected partition filters in:\n$scan")
    // evidence the pruning actually happened: fewer files read than exist
    val allDays = new java.io.File(dir).list().count(_.startsWith("day="))
    assert(allDays > 1, "test needs multiple partitions")
  }

  test("partitioned sink splits a hot partition value across writer tasks") {
    import spark.implicits._
    // 9:1 skew: one partition value carries ~19 MB, six carry ~0.2 MB.
    // With a 1 MB advisory size AQE's rebalance skew-split must fan the
    // hot value across several writer tasks (>1 file in its directory)
    // while the small values stay single-file — the exact behavior the
    // sink's REBALANCE hint (vs repartition-by-column, which pins each
    // value to ONE reducer) exists to buy.
    // per-row pseudorandom payload: AQE sizes COMPRESSED shuffle bytes,
    // so a constant string would deflate to nothing and dodge the split
    val payload = concat((0 until 6).map(i =>
      md5(concat(col("id").cast("string"), lit(s"_$i")))): _*)
    val hot = spark.range(90000).select(lit("hot").as("k"),
      col("id"), payload.as("p"))
    val cold = spark.range(6000).select(
      concat(lit("c"), (col("id") % 6)).as("k"), col("id"),
      payload.as("p"))
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1m")
    try ingest.PartitionedSink.write(hot.union(cold), dir, Seq("k"))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    def files(sub: String): Int =
      new java.io.File(s"$dir/k=$sub").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(files("hot") > 1, "hot partition value not skew-split")
    // a cold key that hashes into the hot key's reduce partition gets
    // sliced along with it (slicing is by mapper range, not by key) —
    // tolerate such collisions, but most cold values must stay one file
    assert((0 until 6).count(i => files(s"c$i") == 1) >= 4,
      "small partition values splintered")
    // and the write is lossless
    assert(spark.read.parquet(dir).count() == 96000)
  }

  test("dynamic partition overwrite backfills one day without touching others") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    val ev = Tables.events(spark, sf).withColumn("day", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    val before = spark.read.parquet(dir)
      .groupBy("day").agg(count(lit(1)).as("n"), round(sum("value"), 6).as("s"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    assert(before.size > 1, "test needs multiple day partitions")
    val target = before.keys.min
    // backfill: reprocess ONE day (values doubled) and overwrite only
    // that partition — partitionOverwriteMode=dynamic replaces exactly
    // the partitions present in the written frame, the way a 100 TB
    // pipeline repairs a bad day without rewriting the table
    val fixed = ev.filter(col("day") === lit(target))
      .withColumn("value", col("value") * 2)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try fixed.write.mode("overwrite").partitionBy("day").parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val after = spark.read.parquet(dir)
      .groupBy("day").agg(count(lit(1)).as("n"), round(sum("value"), 6).as("s"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after.keySet == before.keySet, "partition set changed")
    assert(after(target)._1 == before(target)._1 &&
      math.abs(after(target)._2 - before(target)._2 * 2) < 1e-6,
      "backfilled day not rewritten")
    (before.keySet - target).foreach { day =>
      assert(after(day) == before(day), s"untouched day $day changed")
    }
  }

  test("retention sweep drops expired partitions without touching survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    val ev = Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    // Spark re-infers the partition value as DATE on read — compare as
    // the directory-name strings the sweep actually sees
    val days = spark.read.parquet(dir)
      .select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(days.length > 2, "test needs several day partitions")
    val cutoff = days(days.length / 2)
    val keepBytes = new java.io.File(s"$dir/day=${days.last}")
      .listFiles().map(f => f.getName -> f.length()).toMap
    val dropped = operators.Maintenance
      .retentionSweep(spark, dir, "day", cutoff)
    assert(dropped == days.filter(_ < cutoff).toSeq)
    val left = spark.read.parquet(dir)
      .select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(left.toSeq == days.filter(_ >= cutoff).toSeq)
    // survivor partition's data files are byte-identical (never rewritten)
    val after = new java.io.File(s"$dir/day=${days.last}")
      .listFiles().map(f => f.getName -> f.length()).toMap
    assert(after == keepBytes)
  }

  test("retention sweep compares Hive-unescaped partition values") {
    import spark.implicits._
    // "1:0" lands on disk as day=1%3A0. Unescaped, ':' (0x3A) sorts
    // ABOVE '0'..'9', so against cutoff "10" the partition must be
    // KEPT — a raw directory-name compare would see '%' (0x25) below
    // '0' and wrongly drop it. "00" sorts below "10" either way.
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl-esc").toString
    Seq(("a", "1:0"), ("b", "00"))
      .toDF("payload", "day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    assert(new java.io.File(dir).list().exists(_.contains("%3A")),
      "writer did not escape the colon; test premise broken")
    val dropped = operators.Maintenance.retentionSweep(spark, dir, "day", "10")
    assert(dropped == Seq("00"), s"dropped $dropped")
    assert(new java.io.File(dir).list().exists(_.contains("%3A")),
      "the escaped partition above the cutoff must survive")
    // unescape handles multi-byte sequences and passes malformed ones
    // through untouched
    assert(operators.Maintenance.unescapePartitionValue("2024%2D01%3A05")
      == "2024-01:05")
    assert(operators.Maintenance.unescapePartitionValue("a%G1%2") == "a%G1%2")
    // signed forms are NOT valid escapes even though parseInt accepts
    // them — decoding them to control chars would let a malformed name
    // sort below the cutoff and be deleted
    assert(operators.Maintenance.unescapePartitionValue("x%+3y") == "x%+3y")
    assert(operators.Maintenance.unescapePartitionValue("x%-5y") == "x%-5y")
  }

  /** A LatestKV update stream whose micro-batches the KV snapshot sink
    * merges into `snap`; the caller feeds it and stops the query.
    */
  private def kvSnapshotQuery(snap: String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[streaming.LatestKV.KV]
    val q = streaming.LatestKV.latest(input.toDS())
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[streaming.LatestKV.KV], id: Long) =>
        streaming.StreamQueries.mergeKvSnapshot(batch.toDF(), snap, id)
      }
      .start()
    (input, q)
  }

  private def freshSnapPath(): String =
    java.nio.file.Files.createTempDirectory("graft-kv-snap").toString + "/state"

  test("foreachBatch sink maintains an upserted KV snapshot per micro-batch") {
    val snap = freshSnapPath()
    val (input, q) = kvSnapshotQuery(snap)
    input.addData(streaming.LatestKV.KV("a", 1, "v1"),
      streaming.LatestKV.KV("b", 1, "w1"))
    q.processAllAvailable()
    input.addData(streaming.LatestKV.KV("a", 2, "v2"))
    q.processAllAvailable()
    q.stop()
    val state = spark.read.parquet(snap).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(state == Map("a" -> "v2", "b" -> "w1"))
  }

  test("a KV snapshot that exists but cannot be read fails the batch") {
    val snap = freshSnapPath()
    val (input, q) = kvSnapshotQuery(snap)
    val garbage = "not a parquet file".getBytes
    val parts =
      try {
        input.addData(streaming.LatestKV.KV("a", 1, "v1"),
          streaming.LatestKV.KV("b", 1, "w1"))
        q.processAllAvailable()
        // corrupt every data file of the snapshot (and drop its .crc, so
        // the read fails on the parquet footer, not on the checksum)
        val parts = new java.io.File(snap).listFiles()
          .filter(f => f.getName.startsWith("part-"))
        assert(parts.nonEmpty, "the first batch wrote no snapshot")
        parts.foreach { f =>
          java.nio.file.Files.write(f.toPath, garbage)
          new java.io.File(snap, s".${f.getName}.crc").delete()
        }
        input.addData(streaming.LatestKV.KV("a", 2, "v2"))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        parts
      } finally q.stop()
    // the unreadable snapshot is left as it was, not replaced by batch 2
    parts.foreach { f =>
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f.toPath),
        garbage), s"${f.getName} was rewritten")
    }
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // the 100 TB lever: when a selective filter shrinks one join side,
    // Spark injects a bloom filter of its keys into the OTHER side's
    // scan, dropping non-matching rows before the shuffle
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val j = Tables.lineitem(spark, sf)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom filter in:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("q"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // both sides pre-bucketed on the join key: the join itself needs no
      // shuffle; the only exchange allowed is none (partial agg reuses
      // the bucketing too)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 0, s"expected shuffle-free bucketed join, got:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("HLL sketches merge losslessly: union of daily partials equals the whole") {
    // the incremental-maintenance property 100 TB distinct counting
    // relies on: build per-day sketches once, union them forever after.
    // DataSketches HLL is deterministic for a fixed input set, so the
    // union of the daily sketches must estimate EXACTLY what one
    // whole-table sketch estimates.
    val ev = Tables.events(spark, TestSpark.sf)
    val merged = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head.getLong(0)
    val whole = ev
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .head.getLong(0)
    assert(merged == whole, s"sketch union $merged != whole-table $whole")
    val exact = ev.select("user_id").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"estimate $merged vs exact $exact")
  }
}
