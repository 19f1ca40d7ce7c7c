package graft

import org.apache.spark.sql.functions._
import graft.operators.Geo

class GeoSpec extends SparkSpec {
  import spark.implicits._

  test("mercator projects a known NYC point correctly") {
    // EPSG:4326 (-74.0060, 40.7128) → EPSG:3857 ≈ (-8238310.24, 4970071.58)
    val df = Seq((1L, -74.0060, 40.7128)).toDF("event_id", "lon", "lat")
      .select(col("event_id"),
        (col("lon") * (20037508.342789244 / 180.0)).as("x"),
        (log(tan((col("lat") + 90.0) * (math.Pi / 360.0))) * 6378137.0).as("y"))
    val (x, y) = df.select("x", "y").as[(Double, Double)].head()
    assert(math.abs(x - -8238310.24) < 0.5, s"x=$x")
    assert(math.abs(y - 4970071.58) < 0.5, s"y=$y")
  }

  test("bbox filter output lies inside the reference bbox") {
    val out = Geo.geoBboxFilter(spark, sf)
    val bad = out.filter(col("x") < -8254332.01 || col("x") > -8209813.49 ||
      col("y") < 4965255.49 || col("y") > 4988769.51)
    assert(out.count() > 0)
    assert(bad.count() == 0)
  }

  test("raster bin counts sum to the bbox point count and px/py are in grid") {
    val raster = Geo.geoRasterize(spark, sf)
    val total = raster.agg(sum("cnt")).as[Long].head()
    assert(total == Geo.geoBboxFilter(spark, sf).count())
    val bad = raster.filter(col("px") < 0 || col("px") > 1399 ||
      col("py") < 0 || col("py") > 999)
    assert(bad.count() == 0)
  }

  test("tile pyramid: per-zoom conservation, parent = sum of children, coords in range") {
    val rows = Geo.geoTilePyramid(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val byZoom = rows.groupBy(_._1)
    assert(byZoom.keySet == (0L to 5L).toSet)
    // every zoom carries the identical point total — conservation
    val totals = byZoom.view.mapValues(_.map(_._4).sum).toMap
    assert(totals.values.toSet.size == 1,
      s"per-zoom totals diverge: $totals")
    assert(totals(5L) == Geo.geoBboxFilter(spark, sf).count())
    // zoom 0 is ONE tile holding everything
    assert(byZoom(0L).length == 1 && byZoom(0L).head._2 == 0L && byZoom(0L).head._3 == 0L)
    // coords in range and tile counts bounded by 4^z
    byZoom.foreach { case (z, ts) =>
      val n = 1L << z
      assert(ts.forall(t => t._2 >= 0 && t._2 < n && t._3 >= 0 && t._3 < n),
        s"zoom $z tile coords out of range")
      assert(ts.length <= n * n)
    }
    // parent/child identity: every zoom-z tile equals the sum of its
    // (at most 4) zoom-(z+1) children
    (0L to 4L).foreach { z =>
      val children = byZoom(z + 1L)
        .groupBy(t => (t._2 / 2, t._3 / 2)).view.mapValues(_.map(_._4).sum).toMap
      byZoom(z).foreach { case (_, tx, ty, cnt) =>
        assert(children.getOrElse((tx, ty), 0L) == cnt,
          s"zoom $z tile ($tx,$ty) != sum of its children")
      }
    }
  }

  test("eq-hist shade is 0..255 and monotone in count") {
    val shade = Geo.geoShadeEqhist(spark, sf).select("cnt", "shade")
      .as[(Long, Int)].collect()
    assert(shade.forall { case (_, s) => s >= 0 && s <= 255 })
    val byCnt = shade.sortBy(_._1).map(_._2)
    assert(byCnt.zip(byCnt.tail).forall { case (a, b) => a <= b })
  }

  test("fan-out frames are sequentially numbered and reduce preserves totals") {
    val frames = Geo.mapFanout(spark, sf).collect()
    assert(frames.map(_.getAs[Long]("frame_seq")).toSeq == (1L to frames.length.toLong))
    val manifest = Geo.reduceAssemble(spark, sf).collect()
    val lastCum = manifest.last.getAs[Long]("cum_points")
    assert(lastCum == frames.map(_.getAs[Long]("n_points")).sum)
    assert(manifest.head.getAs[Long]("total_frames") == frames.length)
  }

  test("pipeline_job_build: manifest == reduce_assemble on seq/offsets, == pipeline_frame_build on digests") {
    val job = Geo.pipelineJobBuild(spark, sf).collect()
      .map(r => (r.getAs[Long]("frame_seq"), r.getAs[String]("frame_day"),
        r.getAs[Long]("n_points"), r.getAs[Long]("checksum"),
        r.getAs[Long]("cum_points"), r.getAs[Long]("total_frames"),
        r.getAs[Double]("pts_sec"), r.getAs[Long]("rgb_digest")))
    // [assemble] the manifest's ordering/offset columns are
    // reduce_assemble's, row for row
    val red = Geo.reduceAssemble(spark, sf).collect()
      .map(r => (r.getAs[Long]("frame_seq"), r.getAs[String]("frame_day"),
        r.getAs[Long]("n_points"), r.getAs[Long]("cum_points"),
        r.getAs[Long]("total_frames"), r.getAs[Double]("pts_sec")))
    assert(job.map(j => (j._1, j._2, j._3, j._5, j._6, j._7)).toSeq == red.toSeq,
      "manifest seq/offset columns diverge from reduce_assemble")
    // [fan-out] the checksum column is map_fanout's
    val fan = Geo.mapFanout(spark, sf).collect()
      .map(r => (r.getAs[String]("frame_day"), r.getAs[Long]("checksum"))).toMap
    job.foreach(j => assert(fan(j._2) == j._4,
      s"frame ${j._2}: checksum ${j._4} != fan-out ${fan(j._2)}"))
    // [render] the digest column is pipeline_frame_build's, per frame day
    val dig = Geo.pipelineFrameBuild(spark, sf).collect()
      .map(r => (r.getAs[String]("frame_day"), r.getAs[Long]("rgb_digest"))).toMap
    job.foreach(j => assert(dig(j._2) == j._8,
      s"frame ${j._2}: digest ${j._8} != pipeline_frame_build ${dig(j._2)}"))
  }

  test("pipeline_job_incremental: suffix-rewrite amplification, legs tied to the build faces") {
    val led = Geo.pipelineJobIncremental(spark, sf).collect()
      .map(r => (r.getAs[Long]("frame_seq"), r.getAs[String]("frame_day"),
        r.getAs[Long]("n_points_before"), r.getAs[Long]("n_points_after"),
        r.getAs[Long]("delta_points"), r.getAs[Long]("touched"),
        r.getAs[Long]("digest_changed"), r.getAs[Long]("offsets_shifted"),
        r.getAs[Long]("rewrite"), r.getAs[Long]("frames_total"),
        r.getAs[Long]("frames_touched"), r.getAs[Long]("frames_rewritten")))
    // after-leg == pipeline_job_build's manifest, frame for frame
    val job = Geo.pipelineJobBuild(spark, sf).collect()
      .map(r => (r.getAs[Long]("frame_seq"), r.getAs[String]("frame_day"),
        r.getAs[Long]("n_points")))
    assert(led.map(l => (l._1, l._2, l._4)).toSeq == job.toSeq,
      "after-leg manifest diverged from pipeline_job_build")
    // before-leg replayed from raw events: in-bbox non-delta counts
    val beforeCnt = Geo.geoBboxFilter(spark, sf)
      .join(graft.sources.Tables.load(spark, sf, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts")), "event_id")
      .filter(col("event_id") % 10 =!= 0)
      .groupBy(expr("date_format(ts, 'yyyy-MM-dd')").as("frame_day"))
      .count().as[(String, Long)].collect().toMap
    led.foreach(l => assert(beforeCnt.getOrElse(l._2, 0L) == l._3,
      s"frame ${l._2}: before-leg ${l._3} != replay ${beforeCnt.getOrElse(l._2, 0L)}"))
    // leg identity and flag containment
    led.foreach { l =>
      assert(l._4 == l._3 + l._5, "after = before + delta per frame")
      assert(l._6 == (if (l._5 > 0) 1L else 0L), "touched flag")
      assert(l._7 <= l._6, "digest_changed must imply touched")
      assert(l._9 == Seq(l._6, l._7, l._8).max, "rewrite composition")
    }
    // the structural lesson: rewrite is a SUFFIX from the first touched
    // frame — cumulative offsets invalidate every later manifest row
    val flags = led.sortBy(_._1).map(_._9).toSeq
    assert(!flags.sliding(2).exists { case Seq(a, b) => a == 1L && b == 0L
      case _ => false }, "rewrite must be monotone once set")
    val firstTouched = led.sortBy(_._1).find(_._6 == 1L).map(_._1)
    val (total, touched, rewritten) = (led.head._10, led.head._11, led.head._12)
    assert(led.forall(l => l._10 == total && l._11 == touched && l._12 == rewritten))
    firstTouched.foreach(ft =>
      assert(rewritten == total - ft + 1, "rewritten != suffix from first touched"))
    assert(rewritten >= touched, "the amplification the ledger exists to show")
    assert(touched == led.count(_._6 == 1L) && rewritten == led.count(_._9 == 1L))
  }

  test("layout_skipping_eval: consistent accounting, and z-order prunes the corner boxes harder") {
    val rows = Geo.layoutSkippingEval(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 8, "2 layouts x 4 boxes")
    rows.foreach { case (ly, box, total, touched, scanned, matching, amp) =>
      assert(touched >= 1 && touched <= total, s"$ly/$box files")
      assert(scanned >= matching, s"$ly/$box must scan at least the matches")
      assert(amp == 1000000L * scanned / math.max(matching, 1L), s"$ly/$box amp")
    }
    // matching cells are layout-independent
    rows.groupBy(_._2).values.foreach { bs =>
      assert(bs.map(_._6).toSet.size == 1, "cells_matching differs by layout")
    }
    // the designed advantage: on the axis-aligned corner boxes (0 and
    // 3) Morton files are compact rectangles and must touch no more
    // files than the row-major layout
    val byKey = rows.map(r => (r._1, r._2) -> r._4).toMap
    Seq(0L, 3L).foreach { b =>
      assert(byKey(("zorder", b)) <= byKey(("linear", b)),
        s"z-order lost the corner-box pruning on box $b")
    }
  }

  test("layout_hilbert: transform matches the reference xy2d and preserves adjacency") {
    // reference implementation of the public top-down xy2d transform
    def xy2d(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L); var s = 1024L
      while (s >= 1) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    // exhaustive 64x64 grid through the operator's transform
    val grid = spark.range(64L * 64L)
      .select((col("id") % 64L).as("x"), expr("id div 64").as("y"))
    val got = Geo.withHilbert(grid.toDF(), "x", "y", "hd")
      .select("x", "y", "hd").as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, hd) =>
      assert(hd == xy2d(x, y), s"($x,$y): $hd != ${xy2d(x, y)}")
    }
    // the curve's defining property: indices differing by 1 are
    // Manhattan neighbors (Morton violates this at quadrant jumps)
    val byD = got.map(t => t._3 -> (t._1, t._2)).toMap
    var checked = 0
    byD.foreach { case (d, (x, y)) =>
      byD.get(d + 1).foreach { case (x2, y2) =>
        assert(math.abs(x2 - x) + math.abs(y2 - y) == 1,
          s"d=$d -> d+1 jumps from ($x,$y) to ($x2,$y2)")
        checked += 1
      }
    }
    assert(checked > 1000, "adjacency property vacuously checked")
    // Morton does NOT have it on this same grid — pin the contrast
    val mortonViolations = got.map { case (x, y, _) =>
      def spread(v: Long): Long = { // 16-bit Morton spread
        var r = v & 0xFFFFL
        r = (r | (r << 8)) & 0x00FF00FFL
        r = (r | (r << 4)) & 0x0F0F0F0FL
        r = (r | (r << 2)) & 0x33333333L
        (r | (r << 1)) & 0x55555555L
      }
      (spread(x) | (spread(y) << 1)) -> (x, y)
    }.toMap match { case m =>
      m.count { case (z, (x, y)) =>
        m.get(z + 1).exists { case (x2, y2) =>
          math.abs(x2 - x) + math.abs(y2 - y) != 1
        }
      }
    }
    assert(mortonViolations > 0, "Morton unexpectedly adjacency-preserving")
    // the shared zorder rows must equal layout_skipping_eval's exactly
    val hil = Geo.layoutHilbert(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(hil.length == 8, "2 layouts x 4 boxes")
    val zFromHil = hil.filter(_._1 == "zorder").sortBy(_._2)
    val zFromEval = Geo.layoutSkippingEval(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .filter(_._1 == "zorder").sortBy(_._2)
    assert(zFromHil.toSeq == zFromEval.toSeq,
      "the two audits disagree on the shared zorder layout")
  }

  test("layout_hilbert_write: written files reproduce the model, footers carry the zone maps") {
    import scala.jdk.CollectionConverters._
    val got = Geo.layoutHilbertWrite(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    val model = Geo.layoutHilbert(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .filter(_._1 == "hilbert").sortBy(_._2)
    assert(got.toSeq == model.toSeq,
      "written-layout audit diverges from the modeled audit")
    // open the REAL parquet footers: each written file's row-group
    // stats must be exactly the zone map the audit probed
    val tbl = Geo.ensureHilbertLayout(spark, sfMid)
    val zones = spark.table(tbl).groupBy("file_id")
      .agg(min("px"), max("px"), min("py"), max("py"))
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl)
    val fs = root.getFileSystem(conf)
    val dirs = fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("file_id="))
    assert(dirs.length.toLong == got.head._3,
      "written file count diverges from the audit's files_total")
    var checked = 0
    dirs.foreach { d =>
      val fid = d.getPath.getName.stripPrefix("file_id=").toLong
      val parts = fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
      assert(parts.length == 1, s"file_id $fid must be ONE physical file")
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          parts.head.getPath, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        def stat(name: String): (Long, Long) = {
          val s = blocks.map { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == name).get.getStatistics
            (c.genericGetMin.asInstanceOf[Number].longValue,
              c.genericGetMax.asInstanceOf[Number].longValue)
          }
          (s.map(_._1).min, s.map(_._2).max)
        }
        val (px0, px1) = stat("px"); val (py0, py1) = stat("py")
        val z = zones(fid)
        assert((px0, px1, py0, py1) == (z._2, z._3, z._4, z._5),
          s"file $fid: footer stats diverge from the audit zone map")
      } finally reader.close()
      checked += 1
    }
    assert(checked > 10, "footer check vacuous")
  }

  test("geo_spread: 3x3 convolution replayed in memory, interior mass x9") {
    val raster = Geo.rasterDf(spark, sf)
      .as[(Long, Long, Long)].collect()
    val cntOf = raster.map(r => (r._1, r._2) -> r._3).toMap
    val model = collection.mutable.Map[(Long, Long), (Long, Long)]()
    raster.foreach { case (px, py, c) =>
      for (dx <- -1L to 1L; dy <- -1L to 1L) {
        val (qx, qy) = (px + dx, py + dy)
        if (qx >= 0 && qx <= 1399 && qy >= 0 && qy <= 999) {
          val (n, m) = model.getOrElse((qx, qy), (0L, 0L))
          model((qx, qy)) = (n + 1, m + c)
        }
      }
    }
    val got = Geo.geoSpread(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == model.size, "spread cell set diverges")
    got.foreach { case (px, py, cnt, nSrc, spread) =>
      assert(cnt == cntOf.getOrElse((px, py), 0L), s"($px,$py) original count")
      assert((nSrc, spread) == model((px, py)), s"($px,$py) spread accounting")
    }
    // conservation: every interior count lands in exactly 9 cells
    val interiorMass = raster.filter { case (px, py, _) =>
      px >= 1 && px <= 1398 && py >= 1 && py <= 998 }.map(_._3).sum
    val edgeRaster = raster.filterNot { case (px, py, _) =>
      px >= 1 && px <= 1398 && py >= 1 && py <= 998 }
    val edgeLanding = edgeRaster.map { case (px, py, c) =>
      val nx = (-1L to 1L).count(d => px + d >= 0 && px + d <= 1399)
      val ny = (-1L to 1L).count(d => py + d >= 0 && py + d <= 999)
      c * nx * ny
    }.sum
    assert(got.map(_._5).sum == 9 * interiorMass + edgeLanding,
      "spread mass diverges from the clipped-kernel accounting")
    // non-vacuous: spread must light previously-empty neighbors
    assert(got.exists(_._3 == 0L), "no halo cells — spread vacuous")
  }

  test("pipeline_frame_build: full per-frame replay + stage marginals vs the standalone faces") {
    import spark.implicits._
    // per-day points through the shared projection/binning rules
    val cells = Geo.points(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("dkey"),
        col("lon"), col("lat"))
      .as[(Long, Double, Double)].collect()
      .map { case (d, lon, lat) =>
        val x = math.floor(lon * 20037508.342789244 / 180.0 * 100.0 + 0.5) / 100.0
        val y = math.floor(math.log(math.tan((lat + 90.0) * (math.Pi / 360.0))) *
          6378137.0 * 100.0 + 0.5) / 100.0
        (d, x, y)
      }
    val perDay = cells.groupBy(_._1)
    val expected = perDay.keys.toSeq.sorted.map { d =>
      val pts = perDay(d)
      val inb = pts.filter { case (_, x, y) =>
        x >= -8254332.0 && x <= -8209813.5 && y >= 4965255.5 && y <= 4988769.5 }
      val raster = inb.map { case (_, x, y) =>
        (math.min(math.floor((x - -8254332.0) / (-8209813.5 - -8254332.0) * 1400), 1399).toLong,
          math.min(math.floor((y - 4965255.5) / (4988769.5 - 4965255.5) * 1000), 999).toLong)
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
      // 3x3 clipped spread
      val sp = collection.mutable.Map[(Long, Long), Long]()
      raster.foreach { case ((px, py), c) =>
        for (dx <- -1L to 1L; dy <- -1L to 1L) {
          val (qx, qy) = (px + dx, py + dy)
          if (qx >= 0 && qx <= 1399 && qy >= 0 && qy <= 999)
            sp((qx, qy)) = sp.getOrElse((qx, qy), 0L) + c
        }
      }
      // per-frame eq-hist over spread counts: per-cell percent_rank
      // (cells strictly below / (cells − 1)) — DuckDB's percent_rank
      // and the eqhistShade convention — then floor(pr*255)
      val allCs = sp.values.toSeq
      val nCells = allCs.length
      val shadeOf = allCs.distinct.map { c =>
        val belowCells = allCs.count(_ < c)
        c -> (if (nCells == 1) 0L
              else math.floor(belowCells.toDouble / (nCells - 1).toDouble * 255).toLong)
      }.toMap
      var (shadeMass, digest) = (0L, 0L)
      sp.foreach { case ((qx, qy), c) =>
        val sh = shadeOf(c)
        val r = math.min(255L, sh * 3)
        val g = math.max(0L, math.min(255L, (sh - 85) * 3))
        val b = math.max(0L, math.min(255L, (sh - 170) * 3))
        shadeMass += sh
        digest += ((qx * 1009L + qy) * (r * 65536L + g * 256L + b + 1L)) % 1000000007L
      }
      (d, pts.length.toLong, inb.length.toLong, raster.size.toLong,
        sp.size.toLong, sp.values.sum, shadeMass, digest)
    }
    val got = Geo.pipelineFrameBuild(spark, sf)
      .select("day", "n_points", "n_bbox", "n_lit", "n_spread",
        "spread_mass", "shade_mass", "rgb_digest")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == expected, "frame build diverged from the in-memory replay")
    // stage marginals against the standalone faces
    got.foreach { case (d, np, nb, nl, ns, _, _, _) =>
      assert(np >= nb && nb >= nl && ns >= nl, s"day $d: stage monotonicity")
    }
    val churn = Geo.geoFrameChurn(spark, sf)
      .select("day", "n_cur").as[(Long, Long)].collect().toMap
    got.foreach { case (d, _, _, nl, _, _, _, _) =>
      assert(churn(d) == nl, s"day $d: n_lit != geo_frame_churn n_cur")
    }
    val fanout = Geo.mapFanout(spark, sf)
      .select("frame_day", "n_points").as[(String, Long)].collect().toMap
    val gotByDay = Geo.pipelineFrameBuild(spark, sf)
      .select("frame_day", "n_bbox").as[(String, Long)].collect().toMap
    fanout.foreach { case (fd, n) =>
      assert(gotByDay(fd) == n, s"$fd: n_bbox != map_fanout n_points")
    }
    assert(got.map(_._3).sum == Geo.geoBboxFilter(spark, sf).count(),
      "sum of per-frame bbox survivors != the corpus bbox face")
  }

  test("geo_tile_serve: plan replayed against the pyramid, overhang accounting") {
    import spark.implicits._
    val pyr = Geo.geoTilePyramid(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val vps = Seq(("center", 12L, 19L, 12L, 19L), ("corner", 0L, 7L, 0L, 7L),
      ("strip", 0L, 31L, 14L, 17L), ("wide", 4L, 27L, 4L, 27L))
    val zooms = Seq((0L, 32L), (1L, 16L), (2L, 8L), (3L, 4L), (4L, 2L), (5L, 1L))
    val expected = vps.map { case (v, bx0, bx1, by0, by1) =>
      val (z, d) = zooms.filter { case (_, dd) =>
        bx1 / dd - bx0 / dd + 1 <= 4 && by1 / dd - by0 / dd + 1 <= 4 }.maxBy(_._1)
      val cov = pyr.filter(t => t._1 == z && t._2 >= bx0 / d && t._2 <= bx1 / d &&
        t._3 >= by0 / d && t._3 <= by1 / d)
      val exact = pyr.filter(t => t._1 == 5L && t._2 >= bx0 && t._2 <= bx1 &&
        t._3 >= by0 && t._3 <= by1).map(_._4).sum
      val served = cov.map(_._4).sum
      (v, z, d, cov.length.toLong, served, exact,
        1000000L * (served - exact) / math.max(served, 1L))
    }.sortBy(_._1)
    val got = Geo.geoTileServe(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, "tile-serve plan drifted from the pyramid replay")
    got.foreach { case (v, _, _, tr, served, exact, ppm) =>
      assert(tr <= 16, s"$v exceeds the 4x4 tile budget")
      assert(served >= exact && ppm >= 0, s"$v overhang sign")
    }
  }

  test("pipeline_frame_incremental: after-leg == full rebuild, before-leg replay, skip accounting") {
    import spark.implicits._
    val inc = Geo.pipelineFrameIncremental(spark, sf)
      .select("day", "n_delta", "n_points_before", "n_points_after",
        "n_lit_before", "n_lit_after", "rgb_digest_before", "rgb_digest_after",
        "render_changed", "frames_total", "frames_touched")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    val full = Geo.pipelineFrameBuild(spark, sf)
      .select("day", "n_bbox", "n_lit", "rgb_digest")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // re-rendering a touched frame with the delta folded in must land
    // EXACTLY on the full rebuild's row — points, lit cells, digest
    inc.foreach { case (d, _, _, pa, _, la, _, dga, _, _, _) =>
      val (_, nb, nl, dg) = full(d)
      assert(pa == nb && la == nl && dga == dg, s"day $d: after-leg != full rebuild")
    }
    // skip-work accounting: touched <= total, constants consistent
    assert(inc.nonEmpty && inc.size <= full.size)
    assert(inc.map(_._10).distinct == Seq(full.size.toLong), "frames_total")
    assert(inc.map(_._11).distinct == Seq(inc.size.toLong), "frames_touched")
    // in-memory replay of the standing (before) leg: event_id % 10 != 0
    val pts = Geo.points(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("dkey"),
        col("event_id"), col("lon"), col("lat"))
      .as[(Long, Long, Double, Double)].collect()
      .map { case (d, eid, lon, lat) =>
        val x = math.floor(lon * 20037508.342789244 / 180.0 * 100.0 + 0.5) / 100.0
        val y = math.floor(math.log(math.tan((lat + 90.0) * (math.Pi / 360.0))) *
          6378137.0 * 100.0 + 0.5) / 100.0
        (d, eid, x, y)
      }
      .filter { case (_, _, x, y) =>
        x >= -8254332.0 && x <= -8209813.5 && y >= 4965255.5 && y <= 4988769.5 }
      .map { case (d, eid, x, y) =>
        val px = math.min(math.floor((x - -8254332.0) / (-8209813.5 - -8254332.0) * 1400), 1399).toLong
        val py = math.min(math.floor((y - 4965255.5) / (4988769.5 - 4965255.5) * 1000), 999).toLong
        (d, eid, px, py)
      }
    def render(cells: Map[(Long, Long), Long]): (Long, Long) = {
      // returns (n_lit, rgb_digest) through the shared per-cell
      // percent_rank eq-hist arithmetic
      val sp = collection.mutable.Map[(Long, Long), Long]()
      cells.foreach { case ((px, py), c) =>
        for (dx <- -1L to 1L; dy <- -1L to 1L) {
          val (qx, qy) = (px + dx, py + dy)
          if (qx >= 0 && qx <= 1399 && qy >= 0 && qy <= 999)
            sp((qx, qy)) = sp.getOrElse((qx, qy), 0L) + c
        }
      }
      val allCs = sp.values.toSeq
      val nCells = allCs.length
      val shadeOf = allCs.distinct.map { c =>
        val belowCells = allCs.count(_ < c)
        c -> (if (nCells == 1) 0L
              else math.floor(belowCells.toDouble / (nCells - 1).toDouble * 255).toLong)
      }.toMap
      var digest = 0L
      sp.foreach { case ((qx, qy), c) =>
        val sh = shadeOf(c)
        val r = math.min(255L, sh * 3)
        val g = math.max(0L, math.min(255L, (sh - 85) * 3))
        val b = math.max(0L, math.min(255L, (sh - 170) * 3))
        digest += ((qx * 1009L + qy) * (r * 65536L + g * 256L + b + 1L)) % 1000000007L
      }
      (cells.size.toLong, digest)
    }
    val deltaByDay = pts.filter(_._2 % 10 == 0).groupBy(_._1).view.mapValues(_.length.toLong).toMap
    // affected = days with in-bbox delta, and n_delta matches
    assert(inc.map(_._1).toSet == deltaByDay.keySet, "affected-day set")
    inc.foreach { case (d, nd, pb, _, lb, _, dgb, _, changed, _, _) =>
      assert(nd == deltaByDay(d), s"day $d: n_delta")
      val standing = pts.filter(p => p._1 == d && p._2 % 10 != 0)
      val raster = standing.groupBy(p => (p._3, p._4)).view.mapValues(_.length.toLong).toMap
      assert(pb == standing.length.toLong, s"day $d: n_points_before")
      val (lit, dig) = render(raster)
      assert(lb == lit, s"day $d: n_lit_before")
      val expectedDgb = if (raster.isEmpty) 0L else dig
      assert(dgb == expectedDgb, s"day $d: rgb_digest_before")
      val expectChanged = if (raster.isEmpty) 1L else (if (dig != full(d)._4) 1L else 0L)
      assert(changed == expectChanged, s"day $d: render_changed")
    }
  }

  test("frame churn replays the day-pair cell diff with exact union accounting") {
    import spark.implicits._
    // the same per-day raster the operator folds, replayed in memory
    val cells = Geo.points(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("dkey"),
        col("event_id"), col("lon"), col("lat"))
      .as[(Long, Long, Double, Double)].collect()
      .map { case (d, _, lon, lat) =>
        val x = math.floor(lon * 20037508.342789244 / 180.0 * 100.0 + 0.5) / 100.0
        val y = math.floor(math.log(math.tan((lat + 90.0) * (math.Pi / 360.0))) *
          6378137.0 * 100.0 + 0.5) / 100.0
        (d, x, y)
      }
      .filter { case (_, x, y) =>
        x >= -8254332.0 && x <= -8209813.5 && y >= 4965255.5 && y <= 4988769.5 }
      .map { case (d, x, y) =>
        val px = math.min(math.floor((x - -8254332.0) / (-8209813.5 - -8254332.0) * 1400), 1399).toLong
        val py = math.min(math.floor((y - 4965255.5) / (4988769.5 - 4965255.5) * 1000), 999).toLong
        (d, px, py)
      }
    val byDay = cells.groupBy(_._1).view
      .mapValues(_.groupBy(c => (c._2, c._3)).view.mapValues(_.size.toLong).toMap)
      .toMap
    val expected = byDay.keys.toSeq.sorted.map { d =>
      val cur = byDay(d); val prev = byDay.getOrElse(d - 1, Map.empty[(Long, Long), Long])
      val nNew = cur.keySet.diff(prev.keySet).size.toLong
      val nDead = prev.keySet.diff(cur.keySet).size.toLong
      (d, cur.size.toLong, prev.size.toLong, nNew, nDead,
        cur.values.sum - prev.values.sum,
        1000000L * (nNew + nDead) / (prev.size + nNew))
    }
    val got = Geo.geoFrameChurn(spark, sf)
      .select("day", "n_cur", "n_prev", "n_new", "n_dead", "mass_delta", "churn_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected, "frame churn diverged from the day-pair replay")
    // union identity + the first frame's all-new contract
    got.foreach { case (d, nc, np, nn, nd, _, _) =>
      assert(nc == np + nn - nd, s"day $d: union identity broken")
    }
    assert(got.head._3 == 0L && got.head._7 == 1000000L,
      "the corpus's first frame must be all-new")
    assert(got.exists(r => r._4 > 0 && r._5 > 0), "churn vacuous — no real frame diff")
  }

  test("a warm pass of the render job recompiles no generated class") {
    // The paper's job as the benchmark's geo_job runs it: seven ops per
    // pass, ~170 distinct generated classes. With Spark's 100-entry
    // class cache every class was evicted before its next use and the
    // second pass recompiled ~260 of them.
    import org.apache.spark.metrics.source.CodegenMetrics
    val ops = Seq("map_fanout", "pipeline_frame_build", "pipeline_job_build",
      "reduce_assemble", "pipeline_frame_incremental", "pipeline_job_incremental",
      "geo_frame_churn")
    def passCompiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ops.foreach(k =>
        SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    passCompiles()
    val warm = passCompiles()
    assert(warm == 0, s"the warm pass compiled $warm generated classes")
  }
}
