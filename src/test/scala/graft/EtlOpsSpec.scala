package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the warehouse-ETL operators that are easy to get subtly
  * wrong: the deterministic train/val/test split and the SCD2 history
  * build. Oracle hash-equality is the driver's job; these pin the
  * properties the oracle cannot see (stability under corpus growth, chain
  * well-formedness per key). */
class EtlOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("sink_backfill's dynamic overwrite rewrites ONLY the restated " +
    "day partitions — every other day's files are physically untouched") {
    val out = ops.TempFiles.dir(s"backfill_${ops.TempFiles.tag(sf)}")
    Queries.sinkBackfill(spark, sf).collect() // first run: seeds + restates
    def fileSet(): Map[String, Set[String]] = {
      val root = new java.io.File(out)
      root.listFiles().filter(_.getName.startsWith("day=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.lastModified}").toSet
      }.toMap
    }
    val before = fileSet()
    // second run: full seed write rewrites everything, then the dynamic
    // overwrite again touches only days 10-12 — so comparing a THIRD run's
    // restated write against the second run isolates the dynamic step
    val ev = ops.Tables.table(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.filter(col("day").between("2024-01-10", "2024-01-12"))
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    val after = fileSet()
    val restated = Set("day=2024-01-10", "day=2024-01-11", "day=2024-01-12")
    assert(before.keySet == after.keySet)
    before.keySet.foreach { day =>
      if (restated(day)) assert(before(day) != after(day),
        s"$day should have been rewritten")
      else assert(before(day) == after(day),
        s"$day must be physically untouched by the dynamic overwrite")
    }
  }

  test("sink_backfill seeds its base on first use in a JVM even when a " +
    "seeded sentinel from another run sits over an empty base dir") {
    // private copies of the events table: each copy's data tag differs
    // from every other caller's, so neither output dir was seeded here
    def lakeCopy(): String = {
      val d = java.nio.file.Paths.get(
        ops.TempFiles.dir(s"backfill_lake/${System.nanoTime()}"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "events.parquet"),
        d.resolve("events.parquet"))
      d.toString
    }
    val (stale, fresh) = (lakeCopy(), lakeCopy())
    val outs = Seq(stale, fresh).map(l =>
      ops.TempFiles.dir(s"backfill_${ops.TempFiles.tag(l)}"))
    try {
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(outs.head, "_base_seeded"))
      val got = Queries.sinkBackfill(spark, stale).collect().toSeq
      assert(got == Queries.sinkBackfill(spark, fresh).collect().toSeq)
      assert(got.size > 3, "every day must be present, not only the restated ones")
    } finally (outs ++ Seq(stale, fresh)).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("attribution credit conserves mass: each journey pays out " +
    "~1e6 micro-credits and first/last counts equal the purchase count") {
    val ev = ops.Tables.table(spark, sf, "events")
    val out = Queries.attributionTouch(spark, sf).collect()
    // journeys = purchases with >= 1 qualifying touch in the prior 7 days
    val nJourneys = ev.as("p").filter(col("p.event_type") === "purchase")
      .join(ev.as("t"),
        col("t.user_id") === col("p.user_id") &&
          col("t.event_type").isin("view", "click", "signup") &&
          col("t.ts") < col("p.ts") &&
          col("t.ts") >= col("p.ts") - expr("INTERVAL 7 DAYS"),
        "leftsemi")
      .count()
    assert(out.map(_.getLong(1)).sum == nJourneys) // n_first sums to journeys
    assert(out.map(_.getLong(2)).sum == nJourneys) // n_last too
    // linear credit: each journey pays k·⌊1e6/k⌋ ∈ (1e6 − k, 1e6]
    val micro = out.map(_.getLong(3)).sum
    assert(micro <= 1000000L * nJourneys)
    assert(micro > 1000000L * nJourneys - 1000L * nJourneys,
      "floor loss must stay below k per journey")
  }

  test("attribution on a hand-built journey: U-positions credited to the " +
    "right channels with exact micro split") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (1L, "2024-01-02 00:00:00", 2L, "click"),
      (1L, "2024-01-03 00:00:00", 3L, "signup"),
      (1L, "2024-01-04 00:00:00", 4L, "purchase"))
      .toDF("user_id", "ts_s", "event_id", "event_type")
      .select(col("user_id"),
        // Tables.table expects events.ts as raw nanos (the lake layout)
        (unix_micros(col("ts_s").cast("timestamp")) * 1000L).as("ts"),
        col("event_id"), col("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    val dir = ops.TempFiles.dir("attr_fixture")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Queries.attributionTouch(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("view") == ((1L, 0L, 333333L)))   // first touch
    assert(out("click") == ((0L, 0L, 333333L)))  // middle
    assert(out("signup") == ((0L, 1L, 333333L))) // last touch
  }

  test("incremental SCD2 merge is bit-equal to the full rebuild, " +
    "including the open-row boundary case") {
    val inc = Queries.mergeScd2Incremental(spark, sf).collect().map(_.toSeq)
    val full = Queries.scd2Build(spark, sf).collect().map(_.toSeq)
    assert(inc.nonEmpty && inc.toSeq == full.toSeq)
    // the subtle case pinned explicitly: delta's first status equals the
    // base open row's status → re-compression must keep ONE row spanning
    // the cutoff (base cut is 2024-01-16 in the query)
    val fx = Seq(
      (1L, "2024-01-10 00:00:00", 1L, "view"),   // base: open row 'view'
      (1L, "2024-01-20 00:00:00", 2L, "view"),   // delta: same status
      (1L, "2024-01-25 00:00:00", 3L, "click"))  // delta: real change
      .toDF("user_id", "ts_s", "event_id", "event_type")
      .select(col("user_id"),
        (unix_micros(col("ts_s").cast("timestamp")) * 1000L).as("ts"),
        col("event_id"), col("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    val dir = ops.TempFiles.dir("scd2_boundary_fixture")
    fx.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Queries.mergeScd2Incremental(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      ("view", "2024-01-10 00:00:00.000000", false),
      ("click", "2024-01-25 00:00:00.000000", true)),
      s"boundary run must not split: ${rows.toSeq}")
  }

  test("dq_skew: hot key and shares recompute exactly; lexicographic " +
    "max breaks count ties deterministically") {
    val out = Queries.dqSkew(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val ev = ops.Tables.table(spark, sf, "events")
    Seq("user_id" -> out("user_id"), "event_type" -> out("event_type"))
      .foreach { case (c, r) =>
        val counts = ev.groupBy(col(c).cast("string").as("k"))
          .agg(count(lit(1)).as("cnt")).collect()
          .map(x => x.getString(0) -> x.getLong(1))
        val maxCnt = counts.map(_._2).max
        val hot = counts.filter(_._2 == maxCnt).map(_._1).max // tie → max key
        assert(r.getLong(1) == counts.map(_._2).sum)
        assert(r.getLong(2) == counts.length)
        assert(r.getLong(3) == maxCnt)
        assert(r.getString(4) == hot)
        assert(r.getLong(5) == 1000000L * maxCnt / counts.map(_._2).sum)
        val n = counts.map(_._2).sum
        val sq = counts.map(x => x._2 * x._2).sum
        assert(r.getLong(6) == 1000000L * (n * n - sq) / (n * n))
        assert(r.getLong(6) >= 0 && r.getLong(6) <= 1000000L)
      }
  }

  test("split_train partitions the corpus with ~80/10/10 mass") {
    val out = Queries.splitTrain(spark, sf).collect()
    val total = ops.Tables.table(spark, sf, "documents").count()
    assert(out.map(_.getLong(2)).sum == total)
    val bySplit = out.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val train = bySplit("train").toDouble / total
    val vl = bySplit("val").toDouble / total
    assert(train > 0.72 && train < 0.88, s"train frac $train")
    assert(vl > 0.04 && vl < 0.16, s"val frac $vl")
  }

  test("split assignment is stable when the corpus grows") {
    // A document's split is a pure function of its id: deriving it over
    // only half the corpus must agree with the full-corpus derivation for
    // every shared doc — the property that lets an incremental pipeline
    // re-split without ever moving a previously assigned document.
    def assign(df: org.apache.spark.sql.DataFrame) = {
      val b = substring(md5(col("doc_id").cast("string")), 1, 2)
      df.select(col("doc_id"),
        when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
          .as("split"))
    }
    val docs = ops.Tables.table(spark, sf, "documents")
    val full = assign(docs)
    val half = assign(docs.filter(col("doc_id") % 2 === 0))
    val moved = half.as("h").join(full.as("f"), Seq("doc_id"))
      .filter($"h.split" =!= $"f.split").count()
    assert(moved == 0)
  }

  test("scd2 history chains are well-formed per key") {
    val h = Queries.scd2Build(spark, sf)
    // exactly one open (is_current) row per user
    val badOpen = h.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1).count()
    assert(badOpen == 0)
    // intervals close forward in time and link into a gapless chain:
    // row N's valid_to equals row N+1's valid_from (string form is
    // chronological), and consecutive statuses actually differ
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from")
    val linked = h
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_status", lead(col("status"), 1).over(w))
    assert(linked.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
    assert(linked.filter(col("next_status").isNotNull &&
      col("status") === col("next_status")).count() == 0)
    assert(linked.filter(col("valid_to").isNotNull &&
      col("valid_to") <= col("valid_from")).count() == 0)
  }

  test("window_ranks invariants: rank ceiling = partition size, quartiles " +
    "balanced") {
    val r = Queries.windowRanks(spark, sf)
    val perUser = r.groupBy("user_id").agg(
      max(col("rnk")).as("max_rnk"), count(lit(1)).as("n"),
      max(col("cdist")).as("max_cd"),
      (max(col("q4")) - min(col("q4"))).as("q_span"))
    // ties can leave max(rank) < n, never above; cume_dist tops at 1.0
    assert(perUser.filter(col("max_rnk") > col("n")).count() == 0)
    assert(perUser.filter(col("max_cd") =!= 1.0).count() == 0)
    // every user with >= 4 events must see all four quartiles
    assert(perUser.filter(col("n") >= 4 && col("q_span") =!= 3).count() == 0)
  }

  test("dedup_cluster_sizes accounts for every document exactly once") {
    val h = Queries.dedupClusterSizes(spark, sf).collect()
    val total = ops.Tables.table(spark, sf, "documents").count()
    assert(h.map(_.getLong(2)).sum == total)
    assert(h.forall(_.getLong(0) >= 1))
    // the synthetic corpus plants dup groups: both singletons and >= 2
    // clusters must appear
    assert(h.exists(_.getLong(0) == 1) && h.exists(_.getLong(0) >= 2))
  }

  test("scd2 compresses runs: row count equals per-user status changes") {
    val events = ops.Tables.table(spark, sf, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val expected = events
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .count()
    assert(Queries.scd2Build(spark, sf).count() == expected)
  }

  test("gaps-and-islands streaks match a driver-side recomputation and " +
    "are maximal (no streak borders another active day)") {
    val active = ops.Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts").cast("date").cast("string").as("d"))
      .distinct().collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) => u -> rs.map(r => java.time.LocalDate
        .parse(r.getString(1)).toEpochDay).sorted.toVector }
    val expected = active.flatMap { case (u, days) =>
      // split the sorted day list where the gap exceeds 1
      val runs = days.foldLeft(Vector.empty[Vector[Long]]) { (acc, d) =>
        if (acc.nonEmpty && d == acc.last.last + 1)
          acc.init :+ (acc.last :+ d)
        else acc :+ Vector(d)
      }
      runs.filter(_.size >= 3).map(r => (u, r.head, r.last, r.size.toLong))
    }.toSet
    val got = Queries.windowGapsIslands(spark, sf).collect().map { r =>
      (r.getLong(0), java.time.LocalDate.parse(r.getString(1)).toEpochDay,
        java.time.LocalDate.parse(r.getString(2)).toEpochDay, r.getLong(3))
    }.toSet
    assert(got == expected)
    // maximality: the day before each start / after each end is inactive
    got.foreach { case (u, s, e, _) =>
      assert(!active(u).contains(s - 1) && !active(u).contains(e + 1))
    }
  }

  test("dq_freshness spine is gapless min..max and every status obeys " +
    "the exact integer volume rule") {
    val rows = Queries.dqFreshness(spark, sf).collect()
    val days = rows.map(r => java.time.LocalDate.parse(r.getString(0)).toEpochDay)
    assert(days.zip(days.tail).forall { case (a, b) => b == a + 1 },
      "calendar spine must have no holes")
    val total = rows.map(_.getLong(1)).sum
    assert(total == ops.Tables.table(spark, sf, "events").count())
    val nDays = rows.length.toLong
    rows.foreach { r =>
      val (n, status) = (r.getLong(1), r.getString(3))
      val expected = if (n == 0) "missing"
        else if (2 * n * nDays < total) "low" else "ok"
      assert(status == expected, s"day ${r.getString(0)}: $n rows -> $status")
    }
  }

  test("time-to-convert buckets partition the conversions and cohorts " +
    "account for every signup user") {
    val rows = Queries.funnelTimeToConvert(spark, sf).collect()
    rows.foreach { r =>
      val (conv, lt1, d13, ge3) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lt1 + d13 + ge3 == conv, s"${r.getString(0)}: buckets != total")
      assert(conv <= r.getLong(1), "conversions cannot exceed signups")
      if (conv > 0) assert(r.getLong(6) > 0, "latency must be positive")
    }
    val signupUsers = ops.Tables.table(spark, sf, "events")
      .filter(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == signupUsers)
  }

  test("largest-remainder allocation conserves the budget exactly and " +
    "pays the +1s to the largest remainders") {
    val B = 999983L
    val rows = Queries.windowAllocation(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == B, "allocation must sum to budget")
    val total = rows.map(_.getLong(2)).sum
    // every cell gets floor or floor+1, and the +1 set is exactly the
    // top-leftover cells by (remainder, key) order
    val cells = rows.map { r =>
      val n = r.getLong(2)
      val fl = B * n / total; val rem = B * n % total
      (r.getString(0), r.getLong(1), fl, rem, r.getLong(3))
    }
    assert(cells.forall { case (_, _, fl, _, a) => a == fl || a == fl + 1 })
    val leftover = B - cells.map(_._3).sum
    val paid = cells.filter { case (_, _, fl, _, a) => a == fl + 1 }
    assert(paid.length == leftover)
    val order = cells.sortBy { case (et, u, _, rem, _) => (-rem, et, u) }
    assert(order.take(leftover.toInt).forall {
      case (_, _, fl, _, a) => a == fl + 1 })
  }

  test("customer_rfm quintiles are balanced (±1), complete (1..5), and " +
    "consistent with each dimension's order") {
    val rows = Queries.customerRfm(spark, sf).collect()
    for (i <- Seq(4, 5, 6)) {
      val sizes = rows.groupBy(_.getLong(i)).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"col $i buckets unbalanced: $sizes")
      assert(rows.map(_.getLong(i)).toSet == (1L to 5L).toSet)
    }
    def monotone(key: org.apache.spark.sql.Row => (Double, Long), score: Int) = {
      val ordered = rows.sortBy(key)
      assert(ordered.map(_.getLong(score)).sliding(2)
        .forall(p => p.head <= p.last), s"score $score breaks order")
    }
    monotone(r => (r.getLong(1).toDouble, r.getLong(0)), 4)  // recency asc
    monotone(r => (-r.getLong(2).toDouble, r.getLong(0)), 5) // frequency desc
    monotone(r => (-r.getDouble(3), r.getLong(0)), 6)        // monetary desc
  }

  test("fkOrphans counts an injected orphan exactly once and zero on " +
    "clean edges") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val clean = Seq(1L, 2L, 2L, 3L).toDF("ck")
    val dirty = Seq(1L, 2L, 99L, 3L, 99L).toDF("ck")
    val ok = Queries.fkOrphans("clean", clean, "ck", parent, "pk",
      bcast = true).collect()(0)
    assert(ok.getLong(1) == 4 && ok.getLong(2) == 0)
    val bad = Queries.fkOrphans("dirty", dirty, "ck", parent, "pk",
      bcast = false).collect()(0)
    assert(bad.getLong(1) == 5 && bad.getLong(2) == 2)
  }

  test("scd2 point-in-time returns exactly one open interval per user " +
    "active before the cutoff") {
    val T = "2024-01-16 00:00:00"
    val rows = Queries.scd2PointInTime(spark, sf).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one state row per user")
    val expected = ops.Tables.table(spark, sf, "events")
      .filter(col("ts") < lit(T).cast("timestamp"))
      .select("user_id").distinct().count()
    assert(rows.length == expected,
      s"every user with pre-cutoff history must have a state: " +
        s"${rows.length} != $expected")
    rows.foreach(r => assert(r.getString(2) <= T))
  }

  test("funnel_paths conserves users and caps paths at 3 segments") {
    val rows = Queries.funnelPaths(spark, sf).collect()
    val users = ops.Tables.table(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == users)
    assert(rows.forall(_.getString(0).split(">").length <= 3))
  }

  test("sink_manifest lays out one file per week and its zone map equals " +
    "a direct aggregation of the data") {
    val rows = Queries.sinkManifest(spark, sf).collect()
    assert(rows.forall(_.getLong(1) == 1), "one file per week partition")
    val direct = ops.Tables.table(spark, sf, "events")
      .groupBy(expr("datediff(cast(ts as date), date'2024-01-01') div 7")
        .as("wk"))
      .agg(count(lit(1)).as("n_rows"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { r =>
      val (n, mn, mx) = direct(r.getLong(0))
      assert(r.getLong(2) == n && r.getLong(3) == mn && r.getLong(4) == mx)
    }
  }

  test("sample_reservoir: exactly 100 rows, equal to the driver-side " +
    "md5-order prefix, and planned as top-k (no global sort)") {
    val q = Queries.sampleReservoir(spark, sf)
    assert(q.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
      "exact-N sampling must plan per-partition top-k, not a global sort")
    val ids = q.collect().map(_.getLong(0))
    assert(ids.length == 100 && ids.distinct.length == 100)
    def md5hex(s: String): String = String.format("%032x",
      new java.math.BigInteger(1, java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))))
    val expect = ops.Tables.table(spark, sf, "events")
      .select(col("event_id")).collect().map(_.getLong(0))
      .sortBy(id => (md5hex(id.toString), id)).take(100).sorted
    assert(ids.toSeq == expect.toSeq)
  }

  test("sample_balanced keeps every label at exactly the minority size, " +
    "members chosen by hash rank (driver recompute)") {
    val out = Queries.sampleBalanced(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = ops.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val byLabel = rows.groupBy(_._2)
    val minN = byLabel.values.map(_.length).min
    def md5hex(s: String): String = String.format("%032x",
      new java.math.BigInteger(1, java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))))
    byLabel.foreach { case (label, members) =>
      val kept = members.map(_._1)
        .sortBy(id => (md5hex(id.toString), id)).take(minN)
      val (nKept, sumIds) = out(label)
      assert(nKept == minN.toLong, s"label $label must hold the cap")
      assert(sumIds == kept.sum, s"label $label kept-set checksum")
    }
  }

  test("dq_benford: digit counts partition the table, ppm are exact floor " +
    "divisions, and the observed shares sum to ~1e6") {
    val out = Queries.dqBenford(spark, sf).collect()
    val ev = ops.Tables.table(spark, sf, "events")
    val total = ev.count()
    assert(out.map(_.getLong(1)).sum == total,
      "every event lands in exactly one digit bucket")
    val driverDigits = ev.select(col("value")).collect().map(_.getDouble(0))
      .groupBy(v => (BigDecimal(v)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
        .toLong.toString.take(1))
      .view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      assert(r.getLong(1) == driverDigits(r.getString(0)))
      assert(r.getLong(2) == 1000000L * r.getLong(1) / total)
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3))
    }
    val ppmSum = out.map(_.getLong(2)).sum
    assert(ppmSum <= 1000000L && ppmSum >= 1000000L - 9,
      s"floor division loses under 1 ppm per digit, got $ppmSum")
  }
}
