package graft

import graft.operators.{Analytics, Geo, Maintain}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Semantic checks for the table-maintenance block + the r7 layout/
  * sketch additions — each against an independently recomputed model,
  * not just the DuckDB oracle (which shares the SQL's shape).
  */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  test("merge_upsert partitions the dim into K/U/I with exact balances") {
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("key"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      .as[(Long, Long)].collect().toMap
    val out = Maintain.mergeUpsert(spark, sf)
      .select("key", "bal_cents", "op").as[(Long, Long, String)].collect()
    assert(out.length == dim.size + dim.keys.count(_ % 13 == 0))
    out.foreach {
      case (k, bal, "K") => assert(k % 7 != 0 && bal == dim(k))
      case (k, bal, "U") => assert(k % 7 == 0 && bal == dim(k) + 10000L)
      case (k, bal, "I") => assert(k < 0 && (-k - 1) % 13 == 0 && bal == dim(-k - 1))
      case (k, _, op) => fail(s"unexpected op $op for key $k")
    }
    // keys unique: inserts can never collide with kept/updated rows
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("merge_delete partitions the dim into K/U/D/I, delete-wins on mod-77 keys") {
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("key"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      .as[(Long, Long)].collect().toMap
    val out = Maintain.mergeDelete(spark, sf)
      .select("key", "bal_cents", "op").as[(Long, Long, String)].collect()
    assert(out.length == dim.size + dim.keys.count(_ % 13 == 0))
    out.foreach {
      case (k, bal, "K") => assert(k % 7 != 0 && k % 11 != 0 && bal == dim(k))
      case (k, bal, "U") => assert(k % 7 == 0 && k % 11 != 0 && bal == dim(k) + 10000L)
      case (k, bal, "D") => assert(k % 11 == 0 && bal == dim(k),
        s"tombstone $k must carry the OLD balance")
      case (k, bal, "I") => assert(k < 0 && (-k - 1) % 13 == 0 && bal == dim(-k - 1))
      case (k, _, op) => fail(s"unexpected op $op for key $k")
    }
    // delete precedence: every key matched by both update and delete
    // (mod 77) appears exactly once, as a tombstone
    val ops = out.groupBy(_._1)
    dim.keys.filter(_ % 77 == 0).foreach { k =>
      assert(ops(k).map(_._3).toSeq == Seq("D"), s"$k must resolve delete-wins")
    }
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("table_snapshot_diff recovers exactly merge_delete's change rows from the two states") {
    // The diff sees only the two snapshots (pre/post), never the
    // change batch — recovering the batch's U/D/I rows (and nothing
    // else) is the whole time-travel-diff contract.
    val diff = Maintain.tableSnapshotDiff(spark, sf)
      .select("key", "name", "bal_cents", "op")
      .as[(Long, String, Long, String)].collect().toSet
    val batch = Maintain.mergeDelete(spark, sf)
      .select("key", "name", "bal_cents", "op")
      .as[(Long, String, Long, String)].collect()
      .filter(_._4 != "K").toSet
    assert(diff.nonEmpty, "vacuous diff check")
    assert(diff == batch,
      "snapshot diff must equal the merge batch's non-K change rows")
    // and no unchanged row leaks through as a spurious U
    assert(diff.forall(r => Set("U", "D", "I").contains(r._4)))
  }

  test("compaction_incremental: both packings replayed, digest-exact rewrite set, conservation") {
    val got = Maintain.compactionIncremental(spark, sf).collect()
      .map(r => (r.getAs[Long]("file_id"), r.getAs[Long]("n_groups"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("bytes"),
        r.getAs[Long]("fill_ppm"), r.getAs[Long]("groups_moved_in"),
        r.getAs[Long]("rewritten"), r.getAs[Long]("files_total"),
        r.getAs[Long]("files_rewritten"), r.getAs[Long]("delta_docs"),
        r.getAs[Long]("delta_bytes"))).sortBy(_._1)
    // replay both packings from the raw documents
    val docs = Tables.load(spark, sf, "documents")
      .select(col("source"), col("lang"), col("doc_id"),
        col("n_chars").cast("long")).as[(String, String, Long, Long)].collect()
    val groups = docs.groupBy(d => (d._1, d._2)).toSeq.sortBy(_._1)
      .map { case ((src, lg), ds) =>
        val before = ds.filter(_._3 % 10 != 0)
        (src, lg, before.map(_._4).sum, ds.map(_._4).sum,
          before.length.toLong, ds.length.toLong)
      }
    val totalB = groups.map(_._3).sum
    val target = math.max(65536L, (totalB + 15) / 16)
    var (cb, ca) = (0L, 0L)
    val placed = groups.map { g =>
      val fb = if (g._5 > 0) Some(cb / target) else None
      val fa = ca / target
      cb += g._3; ca += g._4
      (g, fb, fa)
    }
    val beforeSets = placed.filter(_._2.isDefined)
      .groupBy(_._2.get).view.mapValues(_.map(p => (p._1._1, p._1._2)).toSet).toMap
    val afterByFile = placed.groupBy(_._3)
    assert(got.map(_._1).toSet == afterByFile.keySet, "file id domain")
    got.foreach { r =>
      val ps = afterByFile(r._1)
      assert(r._2 == ps.length.toLong, s"file ${r._1} n_groups")
      assert(r._3 == ps.map(_._1._6).sum, s"file ${r._1} n_docs")
      assert(r._4 == ps.map(_._1._4).sum, s"file ${r._1} bytes")
      assert(r._5 == r._4 * 1000000L / target, s"file ${r._1} fill")
      assert(r._6 == ps.count(p => !p._2.contains(p._3)).toLong,
        s"file ${r._1} groups_moved_in")
      // rewritten iff the group SET changed (the file must be re-emitted)
      val afterSet = ps.map(p => (p._1._1, p._1._2)).toSet
      val sameSet = beforeSets.get(r._1).contains(afterSet) &&
        ps.map(_._1._3).sum == ps.map(_._1._4).sum
      assert(r._7 == (if (sameSet) 0L else 1L), s"file ${r._1} rewritten")
    }
    // prefix preservation: every file wholly before the first grown
    // group's before-file must be unrewritten (vacuously tight here:
    // a uniform 10% delta grows the very first group, so a GLOBAL
    // byte-packing rewrites every file — the lesson this face exists
    // to show)
    val firstGrown = placed.find(p => p._1._4 > p._1._3)
    firstGrown.foreach { fg =>
      val cutF = fg._2.getOrElse(0L)
      got.filter(_._1 < cutF).foreach(r =>
        assert(r._7 == 0L, s"file ${r._1} before the first grown group rewrote"))
    }
    // conservation + constants
    assert(got.map(_._4).sum == groups.map(_._4).sum, "bytes conserved")
    val h = got.head
    assert(h._8 == got.length && h._9 == got.count(_._7 == 1L))
    assert(h._10 == docs.count(_._3 % 10 == 0).toLong, "delta_docs")
    assert(h._11 == docs.filter(_._3 % 10 == 0).map(_._4).sum, "delta_bytes")
  }

  test("table_retention_plan: classification replay, one straddler, amplification identity") {
    val got = Maintain.tableRetentionPlan(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_expired"), r.getAs[Long]("n_live"),
        r.getAs[String]("action"), r.getAs[Long]("partitions_total"),
        r.getAs[Long]("n_drop"), r.getAs[Long]("n_rewrite"),
        r.getAs[Long]("rows_freed_by_drop"),
        r.getAs[Long]("rows_deleted_in_rewrite"),
        r.getAs[Long]("rows_copied_in_rewrite"),
        r.getAs[Long]("rewrite_amp_ppm")))
    // replay from raw events against the same mid-day cut
    val cutUs = java.time.LocalDateTime.of(2024, 1, 10, 12, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val evs = Tables.load(spark, sf, "events")
      .select(unix_micros(col("ts").cast("timestamp"))).as[Long].collect()
    val byDay = evs.groupBy(_ / 86400000000L).view
      .mapValues(us => (us.length.toLong, us.count(_ < cutUs).toLong)).toMap
    assert(got.map(_._1).toSet == byDay.keySet)
    got.foreach { r =>
      val (n, e) = byDay(r._1)
      assert((r._2, r._3, r._4) == ((n, e, n - e)), s"day ${r._1} counts")
      val want = if (e == n) "drop" else if (e == 0) "keep" else "rewrite"
      assert(r._5 == want, s"day ${r._1}: action ${r._5} != $want")
    }
    // the intra-day cut guarantees the hard case exists and is unique:
    // drops strictly before it, keeps strictly after
    val rewrites = got.filter(_._5 == "rewrite")
    assert(rewrites.length == 1, "exactly one straddling partition")
    val rd = rewrites.head._1
    assert(got.filter(_._5 == "drop").forall(_._1 < rd))
    assert(got.filter(_._5 == "keep").forall(_._1 > rd))
    // plan totals and the amplification identity
    val h = got.head
    assert(h._6 == got.length && h._7 == got.count(_._5 == "drop") &&
      h._8 == 1L)
    assert(h._9 == got.filter(_._5 == "drop").map(_._2).sum)
    assert(h._10 == rewrites.head._3 && h._11 == rewrites.head._4)
    assert(h._12 == 1000000L * h._11 / math.max(h._10, 1L))
    assert(got.forall(r => (r._6, r._7, r._8, r._9, r._10, r._11, r._12) ==
      ((h._6, h._7, h._8, h._9, h._10, h._11, h._12))), "constants must be constant")
  }

  test("table_profile matches a direct per-column recompute") {
    val rows = Maintain.tableProfile(spark, sf)
      .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_repr", "max_repr")
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet ==
      Set("event_id", "event_type", "props", "ts", "user_id", "value"))
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, String, Long)].collect()
    val n = ev.length.toLong
    rows.values.foreach { r =>
      assert(r._2 == n, s"${r._1}: n_rows wrong")
      assert(r._3 == 0L, s"${r._1}: synthetic data has no nulls")
    }
    assert(rows("event_id")._4 == ev.map(_._1).distinct.length.toLong)
    assert(rows("event_id")._5 == ev.map(_._1).min.toString)
    assert(rows("event_id")._6 == ev.map(_._1).max.toString)
    assert(rows("event_type")._4 == ev.map(_._2).distinct.length.toLong)
    assert(rows("value")._5 == ev.map(_._3).min.toString,
      "value min must be the integer-cents repr")
    assert(rows("value")._6 == ev.map(_._3).max.toString)
  }

  test("table_profile_approx: exact counters match the exact face, estimates in-spec") {
    val approx = Maintain.tableProfileApprox(spark, sf)
      .select("col_name", "n_rows", "n_nulls", "v_zero", "nd_est_milli")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val exact = Maintain.tableProfile(spark, sf)
      .select("col_name", "n_rows", "n_nulls", "n_distinct")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(approx.keySet == exact.keySet && approx.size == 6)
    approx.values.foreach { case (cn, nr, nn, vz, est) =>
      // the exact counters ride the SAME register aggregation for free
      assert(nr == exact(cn)._2 && nn == exact(cn)._3,
        s"$cn: row/null counters diverge from the exact face")
      assert(vz >= 0L && vz <= 64L, s"$cn: v_zero out of range")
      assert(est > 0L, s"$cn: estimate must be positive")
      // the documented consumer contract: apply linear counting in the
      // small range (v_zero > 0, raw < 2.5m), then the corrected
      // estimate must land within 2x of truth — the replayable affine
      // hash trades avalanche quality for oracle checkability, so the
      // bound is the sketch family's honest worst case (measured: all
      // but sequential-id event_id land within ±16%)
      val raw = est.toDouble / 1000.0
      val corrected =
        if (vz > 0 && raw < 2.5 * 64) 64.0 * math.log(64.0 / vz) else raw
      val truth = exact(cn)._4.toDouble
      assert(corrected >= 0.5 * truth && corrected <= 2.0 * truth,
        s"$cn: corrected estimate $corrected vs exact $truth out of spec")
    }
  }

  test("table_stats_incremental: the two-leg merge equals the full recompute") {
    val merged = Maintain.tableStatsIncremental(spark, sf)
      .select("col_name", "n_base", "n_delta", "n_rows", "n_nulls",
        "v_zero", "nd_est_milli")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val full = Maintain.tableProfileApprox(spark, sf)
      .select("col_name", "n_rows", "n_nulls", "v_zero", "nd_est_milli")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(merged.keySet == full.keySet && merged.size == 6)
    merged.values.foreach { case (cn, nb, nd, nr, nn, vz, est) =>
      // sketch mergeability: max/sum over the leg partition reproduce
      // the one-pass registers exactly — every derived field identical
      assert(nr == full(cn)._2 && nn == full(cn)._3,
        s"$cn: merged counters diverge from the recompute")
      assert(vz == full(cn)._4 && est == full(cn)._5,
        s"$cn: merged registers diverge from the recompute")
      // the legs partition the rows
      assert(nb + nd == nr, s"$cn: n_base + n_delta != n_rows")
      assert(nd > 0L, s"$cn: the delta convention must select rows here")
    }
  }

  test("table profiles count NULL props as nulls, and the merge keeps them") {
    // 40 events, props NULL on every 4th (10 rows, 2 of them in the
    // event_id % 10 = 0 delta leg): a NULL lands in the null register
    // group on both faces, never in a register
    val dir = java.nio.file.Files.createTempDirectory("graft-null-props").toString
    try {
      (0L until 40L).map { i =>
        (i, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), i % 7, "view", 1.5,
          if (i % 4 == 0) null else s"p$i")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val approx = Maintain.tableProfileApprox(spark, dir)
        .select("col_name", "n_rows", "n_nulls", "v_zero", "nd_est_milli")
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(approx.size == 6)
      approx.values.foreach { case (cn, nr, nn, _, _) =>
        assert(nr == 40L && nn == (if (cn == "props") 10L else 0L),
          s"$cn: $nr rows, $nn nulls")
      }
      val merged = Maintain.tableStatsIncremental(spark, dir)
        .select("col_name", "n_rows", "n_nulls", "v_zero", "nd_est_milli")
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(merged == approx, s"merge $merged vs recompute $approx")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("dq_rules: exact ppm metrics, and the strict rule actually fails") {
    val rules = Maintain.dqRules(spark, sf)
      .select("rule", "metric_ppm", "pass")
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(rules.size == 7)
    // pass ⇔ ppm = 1e6, for every rule
    rules.values.foreach { case (r, ppm, pass) =>
      assert(pass == (ppm == 1000000L), s"$r: pass flag inconsistent with ppm")
      assert(ppm >= 0L && ppm <= 1000000L, s"$r: ppm out of range")
    }
    // the clean-data rules hold; the deliberately strict one fails
    Seq("complete_value", "complete_type", "unique_event_id",
      "nonneg_value", "known_type", "ts_in_range").foreach { r =>
      assert(rules(r)._3, s"$r should pass on the synthetic log")
    }
    assert(!rules("value_under_100")._3,
      "the strict range rule must fail — fail accounting untested otherwise")
    // and its metric is the exact integer ratio
    val ev = Tables.load(spark, sf, "events").select(col("value"))
      .as[Double].collect()
    val expect = 1000000L * ev.count(_ <= 100.0) / ev.length
    assert(rules("value_under_100")._2 == expect)
  }

  test("dim_scd2 versions chain: contiguous validity, one current row") {
    val rows = Maintain.dimScd2(spark, sf)
      .select("custkey", "version", "bal_cents", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Long, String, String, Long)].collect()
    rows.groupBy(_._1).foreach { case (ck, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to vs.length).toSeq, s"$ck versions gap")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 == b._4, s"$ck v${a._2} valid_to != v${b._2} valid_from")
          assert(a._3 < b._3, s"$ck running balance must strictly grow")
        case _ =>
      }
      assert(sorted.last._5 == "9999-12-31" && sorted.last._6 == 1L)
      assert(sorted.count(_._6 == 1L) == 1, s"$ck multiple current versions")
    }
  }

  test("agg_incremental's partial merge equals the single-pass recompute") {
    val merged = Maintain.aggIncremental(spark, sf)
      .select("day", "event_type", "n_events", "sum_value")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val full = Tables.load(spark, sf, "events")
      .select(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
        col("event_type"), round(col("value") * 100).cast("long").as("vc"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), (sum(col("vc")) / 100.0).as("sv"))
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(merged.toSeq == full.toSeq,
      "incremental merge must equal the recompute exactly")
    // the plan really is two partial legs + an O(groups) merge: three
    // aggregate pairs (base, delta, merge), the union feeding the last
    val plan = Maintain.aggIncremental(spark, sf)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).length >= 6,
      s"expected base/delta/merge aggregate pairs:\n$plan")
    assert(plan.contains("Union"), s"expected the partial union:\n$plan")
  }

  test("compaction_plan conserves bytes and bounds file overshoot") {
    val groups = Tables.load(spark, sf, "documents")
      .groupBy("source", "lang").agg(sum("n_chars").as("b"))
      .select(col("b")).as[Long].collect()
    val total = groups.sum
    val target = math.max(65536L, (total + 15) / 16)
    val files = Maintain.compactionPlan(spark, sf)
      .select("file_id", "n_groups", "bytes").as[(Long, Long, Long)].collect()
    assert(files.map(_._3).sum == total, "plan must conserve bytes")
    assert(files.map(_._2).sum == groups.length, "plan must place every group")
    // next-fit bound: a file overshoots by at most one group
    files.foreach { case (f, _, b) =>
      assert(b <= target + groups.max, s"file $f exceeds target + max group")
    }
  }

  test("compaction_exec: the rewrite reproduces the plan's ledger and moves every byte") {
    val plan = Maintain.compactionPlan(spark, sf)
      .select("file_id", "n_groups", "n_docs", "bytes")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val exec = Maintain.compactionExec(spark, sf)
      .select("file_id", "n_groups", "n_docs", "bytes", "min_doc", "max_doc", "checksum")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // the executed manifest must match the plan ROW FOR ROW
    assert(exec.map(r => (r._1, r._2, r._3, r._4)).toSeq == plan.toSeq,
      "executed manifest diverges from the plan ledger")
    // conservation: per-file checksums sum (mod p) to the corpus checksum —
    // no dropped or duplicated document can fake this
    val P = 1000000007L
    val corpus = Tables.load(spark, sf, "documents")
      .select(graft.functions.HashExpressions.polyHash(col("text"), P).as("h"))
      .as[Long].collect()
    assert(exec.map(_._7).sum % P == corpus.map(_ % P).sum % P,
      "per-file checksums don't add to the corpus checksum")
    assert(exec.map(_._3).sum == corpus.length.toLong, "doc count not conserved")
  }

  test("layout_zorder tiles are compact <=256-wide rectangles") {
    val tiles = Geo.layoutZorder(spark, sf)
      .select("tile", "n_points", "px_min", "px_max", "py_min", "py_max")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(tiles.nonEmpty)
    tiles.foreach { case (t, _, x0, x1, y0, y1) =>
      assert(x1 - x0 <= 255 && y1 - y0 <= 255,
        s"tile $t extent (${x1 - x0}, ${y1 - y0}) — Z-tiles must stay compact")
      // tile id really is the interleaved high bits of its own extent
      assert(x0 / 256 == x1 / 256 && y0 / 256 == y1 / 256)
    }
    val totalPts = Geo.rasterDf(spark, sf).agg(sum("cnt")).as[Long].head()
    assert(tiles.map(_._2).sum == totalPts, "rollup must conserve points")
  }

  test("agg_heavy_hitters: CMS estimate dominates the exact count") {
    val rows = Analytics.aggHeavyHitters(spark, sf)
      .select("user_id", "n_exact", "n_est", "est_err")
      .as[(Long, Long, Long, Long)].collect()
    val exact = Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select("user_id", "n").as[(Long, Long)].collect().toMap
    assert(rows.length == math.min(20, exact.size))
    rows.foreach { case (u, nx, ne, err) =>
      assert(nx == exact(u), s"$u exact count drifted")
      assert(ne >= nx, s"$u CMS estimate below exact — impossible for CMS")
      assert(err == ne - nx)
    }
    // the 20 are THE top-20 by (count desc, user asc)
    val want = exact.toSeq.sortBy { case (u, n) => (-n, u) }
      .take(math.min(20, exact.size)).map(_._1)
    assert(rows.map(_._1).toSeq == want)
  }

  test("dim_scd2_asof resolves exactly one version per covered probe, none before history") {
    val dim = Maintain.dimScd2(spark, sf)
      .select("custkey", "version", "valid_from", "valid_to", "bal_cents")
      .as[(Long, Long, String, String, Long)].collect()
    val got = Maintain.dimScd2Asof(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    // at most one version resolves per (key, probe) — SCD2 intervals
    // partition the timeline
    val dup = got.groupBy(r => (r._1, r._2)).filter(_._2.length > 1)
    assert(dup.isEmpty, s"overlapping versions: ${dup.keys.take(3)}")
    // every row matches the in-memory interval lookup, and every
    // covered (key, probe) pair is present
    val byKey = dim.groupBy(_._1)
    val probes = (1995 to 2001).map(y => s"$y-07-01")
    val expected = (for {
      (k, vs) <- byKey.toSeq
      p <- probes
      v <- vs.find(v => v._3 <= p && p < v._4)
    } yield (k, p, v._2, v._5)).toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet == expected)
    // non-vacuous both ways: some probes resolve, some precede history
    assert(expected.nonEmpty)
    assert(expected.size < byKey.size * probes.size,
      "every probe resolved — the before-history case is untested")
  }

  test("dq_drift matches an in-memory two-window replay and shares sum to ~1e6") {
    val cut = 1705363200000000L // 2024-01-16T00:00:00Z in epoch micros
    val ev = Tables.load(spark, sf, "events")
      .select(unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()
    def band(v: Double): String = {
      val c = math.round(v * 100)
      if (c < 1000) "v0" else if (c < 2500) "v1" else if (c < 5000) "v2"
      else if (c < 7500) "v3" else if (c < 10000) "v4" else "v5"
    }
    val rows = ev.flatMap { case (us, et, v) =>
      val ref = us < cut
      Seq((ref, "event_type", et), (ref, "value_band", band(v)))
    }
    val refT = rows.count { case (r, f, _) => r && f == "event_type" }.toLong
    val curT = rows.count { case (r, f, _) => !r && f == "event_type" }.toLong
    assert(refT > 0 && curT > 0, "both windows must be populated")
    val expected = rows.groupBy { case (_, f, b) => (f, b) }.map { case ((f, b), hits) =>
      val rn = hits.count(_._1).toLong
      val cn = hits.count(!_._1).toLong
      val rp = 1000000L * rn / refT
      val cp = 1000000L * cn / curT
      (f, b, rn, cn, rp, cp, math.abs(rp - cp))
    }.toSet
    val got = Maintain.dqDrift(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected)
    // per feature, each window's shares must total 1e6 up to floor loss
    got.groupBy(_._1).values.foreach { fr =>
      val sumRef = fr.map(_._5).sum
      val sumCur = fr.map(_._6).sum
      assert(sumRef <= 1000000L && sumRef > 1000000L - fr.length)
      assert(sumCur <= 1000000L && sumCur > 1000000L - fr.length)
    }
  }

  test("dq_psi: exact bit replay, every term non-negative, planted swap fires") {
    val cut = 1705363200000000L // 2024-01-16T00:00:00Z in epoch micros
    val ev = Tables.load(spark, sf, "events")
      .select(unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()
    def band(v: Double): String = {
      val c = math.round(v * 100)
      if (c < 1000) "v0" else if (c < 2500) "v1" else if (c < 5000) "v2"
      else if (c < 7500) "v3" else if (c < 10000) "v4" else "v5"
    }
    def bits(x: Long): Long = { assert(x > 0); 64L - java.lang.Long.numberOfLeadingZeros(x) }
    val stacked = ev.flatMap { case (us, et, v) =>
      val ref = us < cut
      Seq((ref, "event_type", et), (ref, "value_band", band(v)))
    }
    val expected = stacked.groupBy(_._2).map { case (f, hits) =>
      val refT = hits.count(_._1).toLong
      val curT = hits.count(!_._1).toLong
      val buckets = hits.groupBy(_._3)
      val terms = buckets.values.map { bs =>
        val rc = math.max(bs.count(_._1).toLong, 1L)
        val cc = math.max(bs.count(!_._1).toLong, 1L)
        val term = (1000000L * cc / curT - 1000000L * rc / refT) *
          (bits(cc * refT) - bits(rc * curT))
        assert(term >= 0, s"$f negative PSI term — the sign argument broke")
        term
      }
      val psi = terms.sum
      (f, buckets.size.toLong, refT, curT, psi,
        if (psi > 288539L) 1L else 0L)
    }.toSet
    val got = Maintain.dqPsi(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "PSI ledger diverges from the bit replay")
    // planted swap: reference all 'view', current all 'purchase' — the
    // event_type PSI must page; an identity feed must stay silent
    val dir = java.nio.file.Files.createTempDirectory("graft-psi").toString
    try {
      def feed(curType: String): Unit =
        ((1 to 50).map(i => (i.toLong, "2024-01-10 00:00:00", "view")) ++
          (1 to 50).map(i => (100L + i, "2024-01-20 00:00:00", curType)))
          .toDF("event_id", "tss", "event_type")
          .withColumn("ts", to_timestamp(col("tss")))
          .withColumn("user_id", col("event_id") % 5)
          .withColumn("value", lit(10.0))
          .select("event_id", "ts", "user_id", "event_type", "value")
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
      feed("purchase")
      val swap = Maintain.dqPsi(spark, dir)
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(swap("event_type")._6 == 1L, "planted swap did not page")
      assert(swap("value_band")._5 == 0L, "identical band profile scored nonzero")
      feed("view")
      val same = Maintain.dqPsi(spark, dir)
        .as[(String, Long, Long, Long, Long, Long)].collect()
      assert(same.forall(r => r._5 == 0L && r._6 == 0L), "identity feed paged")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("dq_referential: green on the clean corpus, fires on a planted orphan") {
    val rows = Maintain.dqReferential(spark, sf)
      .select("fk_edge", "n_child", "n_orphans", "orphan_ppm", "pass")
      .as[(String, Long, Long, Long, Boolean)].collect()
    assert(rows.map(_._1).sorted.toSeq ==
      Seq("lineitem_orders", "orders_customer"))
    rows.foreach { case (e, nc, no, ppm, pass) =>
      assert(nc > 0, s"$e: empty child side")
      assert(ppm == 1000000L * no / nc, s"$e: ppm not exact")
      assert(no == 0L && pass, s"$e: clean corpus reported orphans")
    }
    // plant one orphaned lineitem (orderkey with no parent order) and
    // one orphaned order (custkey with no parent customer)
    val dir = java.nio.file.Files.createTempDirectory("graft-ref").toString
    try {
      Seq((1L, 10L), (2L, 999L)).toDF("l_linenumber", "l_orderkey")
        .write.parquet(s"$dir/lineitem.parquet")
      Seq((10L, 5L), (11L, 888L)).toDF("o_orderkey", "o_custkey")
        .write.parquet(s"$dir/orders.parquet")
      Seq(Tuple1(5L)).toDF("c_custkey")
        .write.parquet(s"$dir/customer.parquet")
      val m = Maintain.dqReferential(spark, dir)
        .select("fk_edge", "n_orphans", "pass")
        .as[(String, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(m("lineitem_orders") == ((1L, false)),
        "planted lineitem orphan not caught")
      assert(m("orders_customer") == ((1L, false)),
        "planted order orphan not caught")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("dq_freshness audit matches a direct recompute and anchors on the log end") {
    import spark.implicits._
    val got = Maintain.dqFreshness(spark, sf)
      .as[(String, Long, Long, Long, Long, Option[Long], Boolean)].collect()
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"),
        unix_micros(col("ts").cast("timestamp")))
      .as[(String, Long)].collect()
    val logEnd = evs.map(_._2).max
    val endDay = logEnd / 86400000000L
    val nDays = endDay - evs.map(_._2 / 86400000000L).min + 1
    val expected = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      val last = rs.map(_._2).max
      val nTotal = rs.length.toLong
      val nLast = rs.count(_._2 / 86400000000L == endDay).toLong
      val avg = nTotal / nDays
      val ppm = if (avg == 0) None else Some(nLast * 1000000L / avg)
      (t, last, nTotal, nLast, avg, ppm, logEnd - last >= 86400000000L)
    }
    assert(got.toSeq == expected, "freshness ledger drifted")
    // the audit anchors on the log, not wall clock: at least one feed
    // carries the final day (the anchor feed can never be stale)
    assert(got.exists(!_._7), "every feed stale — anchor broken")
  }

  test("ks test detects a planted location shift and stays quiet on identity") {
    import spark.implicits._
    def write(curVals: Seq[Double], dir: String): Unit = {
      val ref = (1 to 20).map(i => (i.toLong, "2024-01-10 00:00:00", 10.0 + (i % 3)))
      val cur = curVals.zipWithIndex.map { case (v, i) =>
        (100L + i, "2024-01-20 00:00:00", v)
      }
      (ref ++ cur).toDF("event_id", "tss", "value")
        .withColumn("ts", to_timestamp(col("tss")))
        .withColumn("user_id", col("event_id") % 5)
        .withColumn("event_type", lit("purchase"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    // planted shift: every current value above every reference value
    write((1 to 20).map(_ => 50.0), "/tmp/graft-test-ks1")
    val shifted = Maintain.dqKsValues(spark, "/tmp/graft-test-ks1")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(shifted == ((20L, 20L, 1000000L, 1200L, 1L)), s"shift missed: $shifted")
    // identical distributions: D = 0, never rejected
    write((1 to 20).map(i => 10.0 + (i % 3)), "/tmp/graft-test-ks2")
    val same = Maintain.dqKsValues(spark, "/tmp/graft-test-ks2")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(same._3 == 0L && same._5 == 0L, s"false alarm: $same")
  }

  test("vacuum plan flags the file the curation deletes hollowed out") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // group a0: 10 docs of pure stopwords (quality 0 — all dead);
    // group b0: 10 clean long docs. ~70k chars per group forces the
    // byte router to split them into two files (target = 65536).
    val deadTxt = Seq.fill(1700)("the").mkString(" ")   // 6799 chars, x10 > 65536
    val liveTxt = (1 to 1000).map(i => s"tok$i").mkString(" ")
    val docs = Seq.tabulate(10)(i => (i.toLong, deadTxt + s" x$i", "a0")) ++
      Seq.tabulate(10)(i => (i + 10L, liveTxt + s" y$i", "b0"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft-test-vac/documents.parquet")
    val out = Maintain.tableVacuumPlan(spark, "/tmp/graft-test-vac")
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    val deadBytes = docs.filter(_._3 == "a0").map(_._2.length.toLong).sum
    assert(out == Seq(
      (0L, 10L, 10L, 1000000L, deadBytes, "rewrite"),
      (1L, 10L, 0L, 0L, 0L, "keep")), s"vacuum plan drifted: $out")
  }

  test("vacuum plan conserves rows and ties deads to the quality gate at sf0.01") {
    import org.apache.spark.sql.functions._
    val out = Maintain.tableVacuumPlan(spark, sfMid).collect()
    val total = spark.read.parquet(s"$sfMid/documents.parquet").count()
    assert(out.map(_.getAs[Long]("n_rows")).sum == total)
    val gateFail = graft.operators.TextOps.textQuality(spark, sfMid)
      .filter(col("quality_score") < 0.5).count()
    assert(out.map(_.getAs[Long]("n_dead")).sum == gateFail)
    // routing agrees with the executed compaction's file inventory
    val files = Maintain.compactionExec(spark, sfMid)
      .select("file_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_.getAs[Long]("file_id")).toSet == files)
    out.foreach { r =>
      assert((r.getAs[String]("action") == "rewrite") ==
        (r.getAs[Long]("dead_ppm") >= 300000L))
    }
  }

  test("table_vacuum_exec applies the plan exactly and conserves every live row") {
    import spark.implicits._
    val plan = graft.operators.Maintain.tableVacuumPlan(spark, sfMid)
      .select("file_id", "n_rows", "n_dead", "bytes_reclaimed", "action")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    val exec = graft.operators.Maintain.tableVacuumExec(spark, sfMid)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect()
    assert(exec.nonEmpty)
    exec.foreach { case (fid, action, rb, ra, bb, ba, rec, _) =>
      val (_, nRows, nDead, bytesRec, planAction) = plan(fid)
      // the exec face can never disagree with the plan it applies
      assert(action == planAction, s"file $fid action diverges from the plan")
      assert(rb == nRows, s"file $fid rows_before")
      assert(ra == (if (action == "rewrite") nRows - nDead else nRows),
        s"file $fid rows_after conservation")
      assert(rec == (if (action == "rewrite") bytesRec else 0L), s"file $fid reclaim")
      assert(bb - ba == rec, s"file $fid byte conservation")
    }
    // checksum: rewritten files carry exactly the live rows' poly-hash
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source", "lang", "text").as[(Long, String, String, String)].collect()
    val alive = graft.operators.TextOps.textQuality(spark, sfMid)
      .select("doc_id", "quality_score").as[(Long, Double)].collect()
      .map { case (id, q) => id -> (q >= 0.5) }.toMap
    val routing = graft.operators.Maintain.compactionRouting(spark, sfMid)
      .select("source", "lang", "file_id").as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def poly(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val wantCks = docs.groupBy(d => routing(d._2, d._3)).map { case (fid, ds) =>
      val keep = if (plan(fid)._5 == "rewrite") ds.filter(d => alive(d._1)) else ds
      fid -> keep.map(d => BigInt(poly(d._4))).sum.mod(BigInt(1000000007L)).toLong
    }
    exec.foreach { case (fid, _, _, _, _, _, _, cks) =>
      assert(cks == wantCks(fid), s"file $fid post-image checksum")
    }
    // the REWRITE path on the planted hollow-file fixture (the vacuum
    // plan spec's corpus): file 0 is all-dead and must shed every row,
    // file 1 is clean and must be byte-identical
    import org.apache.spark.sql.functions.{col => c2, lit => l2, length => len2}
    val deadTxt = Seq.fill(1700)("the").mkString(" ")
    val liveTxt = (1 to 1000).map(i => s"tok$i").mkString(" ")
    val fix = Seq.tabulate(10)(i => (i.toLong, deadTxt + s" x$i", "a0")) ++
      Seq.tabulate(10)(i => (i + 10L, liveTxt + s" y$i", "b0"))
    fix.toDF("doc_id", "text", "source")
      .withColumn("lang", l2("en"))
      .withColumn("n_chars", len2(c2("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft-test-vacx/documents.parquet")
    val fx = graft.operators.Maintain.tableVacuumExec(spark, "/tmp/graft-test-vacx")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    val deadBytes = fix.filter(_._3 == "a0").map(_._2.length.toLong).sum
    val liveBytes = fix.filter(_._3 == "b0").map(_._2.length.toLong).sum
    val cksOf = (txts: Seq[String]) => txts.map(t =>
      BigInt(poly(t))).sum.mod(BigInt(1000000007L)).toLong
    assert(fx(0) == ((0L, "rewrite", 10L, 0L, deadBytes, 0L, deadBytes, 0L)),
      s"rewrite face drifted: ${fx(0)}")
    assert(fx(1) == ((1L, "keep", 10L, 10L, liveBytes, liveBytes, 0L,
      cksOf(fix.filter(_._3 == "b0").map(_._2)))),
      s"keep face drifted: ${fx(1)}")
  }

  test("table_zonemap_audit: zones replayed in memory; ingest key prunes, shipdate does not") {
    import spark.implicits._
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"),
        expr("CAST(datediff(l_shipdate, '1970-01-01') AS BIGINT)"),
        col("l_linenumber").cast("long"))
      .as[(Long, Long, Long)].collect()
      .sortBy { case (ok, _, ln) => (ok, ln) }
    val n = li.length
    val per = (n + 63) / 64
    val files = li.zipWithIndex.groupBy(_._2 / per)
    def zones(pick: ((Long, Long, Long)) => Long) =
      files.map { case (fid, rows) =>
        val vs = rows.map(r => pick(r._1))
        fid.toLong -> ((vs.min, vs.max))
      }
    val got = graft.operators.Maintain.tableZonemapAudit(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 128, "64 files x 2 probes")
    for ((probe, pick) <- Seq[(String, ((Long, Long, Long)) => Long)](
        "orderkey" -> (_._1), "shipdate" -> (_._2))) {
      val z = zones(pick)
      val rows = got.filter(_._1 == probe)
      assert(rows.length == 64, s"$probe file count")
      rows.foreach { case (_, fid, vmin, vmax, depth) =>
        assert(z(fid) == ((vmin, vmax)), s"$probe file $fid zone")
        val want = z.values.count { case (bmin, bmax) =>
          bmin <= vmax && bmax >= vmin }
        assert(depth == want.toLong, s"$probe file $fid depth")
      }
    }
    // the finding the audit exists for: the ingest key's zones barely
    // overlap (boundary-straddling orders only), shipdate's span all
    val okDepth = got.filter(_._1 == "orderkey").map(_._5)
    val sdDepth = got.filter(_._1 == "shipdate").map(_._5)
    assert(okDepth.max <= 3, "ingest-key clustering lost")
    assert(sdDepth.sum > 4 * okDepth.sum,
      "shipdate zones unexpectedly prunable — contrast gone")
  }
  test("shuffle_budget: in-memory replay of every relation, cross-face raster pin") {
    val rows = Maintain.shuffleBudget(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1).sorted == Seq("doc_bigrams", "doc_word_pairs",
      "events_user_day", "raster_day_cell"))
    // sizing arithmetic on every row
    rows.foreach { case (r, n, b, mb, parts) =>
      assert(mb == n * b / 1048576L, s"$r: total_mb arithmetic")
      assert(parts == (n * b + 134217727L) / 134217728L, s"$r: partition math")
    }
    def cell(r: String) = rows.find(_._1 == r).get
    // independent in-memory replays from the raw tables
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
      .as[(Long, Long)].collect()
    assert(cell("events_user_day")._2 == ev.distinct.length.toLong)
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val pairs = texts.flatMap { case (id, t) =>
      t.split(" ", -1).map(tok => (id, tok)) }.distinct
    val wp = cell("doc_word_pairs")
    assert(wp._2 == pairs.length.toLong)
    assert(wp._3 == 24L + 8L + 8L + 8L +
      pairs.map(_._2.length.toLong).sum / pairs.length,
      "word-pair row bytes must come from the measured mean token length")
    val bigrams = texts.flatMap { case (_, t) =>
      val ws = t.split(" ", -1)
      (0 until ws.length - 1).map(i => ws(i) + " " + ws(i + 1))
    }.distinct
    val bg = cell("doc_bigrams")
    assert(bg._2 == bigrams.length.toLong)
    assert(bg._3 == 24L + 8L + 8L +
      bigrams.map(_.length.toLong).sum / bigrams.length)
    // cross-face pin: the raster relation's row count IS the total cell
    // mass the frame-churn ledger reports per day
    val churnCur = Geo.geoFrameChurn(spark, sf)
      .select(col("n_cur")).as[Long].collect().sum
    assert(cell("raster_day_cell")._2 == churnCur,
      "raster relation must equal the churn faces' summed per-day cells")
  }
}
