package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curate, Dedup, TextOps}
import graft.functions.HashExpressions.polyHash

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("langid picks the language with most stopword hits") {
    val df = docsDf(Seq(
      (1L, "the cat is on the mat and it is a cat", "en"),
      (2L, "der hund ist nicht das problem und die katze", "de"),
      (3L, "el perro y la casa es que los gatos", "es"),
      (4L, "le chien et la maison est que les chats", "fr")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-lang/documents.parquet")
    val out = TextOps.textLangid(spark, "/tmp/graft-test-lang")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "es")
    assert(out(4L) == "fr")
  }

  test("fingerprint is deterministic, text-sensitive, and matches the rolling formula") {
    val df = docsDf(Seq((1L, "ab", "en"), (2L, "ab", "en"), (3L, "ba", "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-fp/documents.parquet")
    val out = TextOps.textFingerprint(spark, "/tmp/graft-test-fp")
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    // h("ab") = (0*31+97)*31 + 98 mod 1e9+7 = 3105
    assert(out(1L) == 97L * 31 + 98)
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("token counts agree across methods on crafted text") {
    val df = docsDf(Seq((1L, "one two three four", "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-tok/documents.parquet")
    val r = TextOps.textTokens(spark, "/tmp/graft-test-tok").head()
    assert(r.getAs[Long]("ws_tokens") == 4L)
    assert(r.getAs[Long]("re_tokens") == 4L)
    assert(r.getAs[Long]("bpe_est_tokens") == math.ceil(18 / 4.0).toLong)
  }

  test("exact dedup collapses normalized duplicates to min doc_id") {
    val df = docsDf(Seq(
      (5L, "hello world", "en"),
      (9L, "  hello   world ", "en"),
      (7L, "something else", "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-dd/documents.parquet")
    val out = Dedup.dedupExact(spark, "/tmp/graft-test-dd")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((5L, 2L), (7L, 1L)))
  }

  test("span dedup counts cross-doc verbatim spans, not within-doc repeats") {
    val df = docsDf(Seq(
      (1L, "a b c d e f g h i j", "en"),
      (2L, "a b c d e f g h i j", "en"),
      (3L, "a b c d e f g h x y", "en"),
      (4L, "short text", "en"),
      (5L, "p q r s t u v w p q r s t u v w", "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-span/documents.parquet")
    val out = Dedup.dedupSpanExact(spark, "/tmp/graft-test-span")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 3L, 3L, 1000L), // full verbatim copy of doc 2
      (2L, 3L, 3L, 1000L),
      (3L, 3L, 1L, 333L),  // shares only its first 8-gram with 1/2
      (4L, 0L, 0L, 0L),    // under 8 words: no spans at all
      (5L, 9L, 0L, 0L)))   // self-repeated 8-gram is NOT a cross-doc dup
    val hot = Dedup.dedupSpanHot(spark, "/tmp/graft-test-span")
      .as[(String, Long, Long)].collect().toSeq
    assert(hot == Seq(
      ("a b c d e f g h", 3L, 3L),
      ("b c d e f g h i", 2L, 2L),
      ("c d e f g h i j", 2L, 2L)))
  }

  test("incremental span dedup scores the batch against the standing corpus only") {
    // standing (src0): docs 1, 2; batch (src1): docs 10, 11, 12, 13.
    // doc 10 = verbatim copy of standing doc 1 -> full coverage;
    // doc 11 shares only its first 8-gram with standing;
    // docs 12 + 13 share a span ONLY with each other -> within-batch
    // overlap must NOT count (tomorrow's standing face catches it);
    // doc 13 also repeats its own span -> self-repeat never counts.
    val rows = Seq(
      (1L, "a b c d e f g h i j", "src0"),
      (2L, "k l m n o p q r s t", "src0"),
      (10L, "a b c d e f g h i j", "src1"),
      (11L, "a b c d e f g h x y", "src1"),
      (12L, "u v w x1 y1 z1 q1 r1", "src1"),
      (13L, "u v w x1 y1 z1 q1 r1 u v w x1 y1 z1 q1 r1", "src1"))
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft-test-spaninc/documents.parquet")
    val out = Dedup.dedupSpanIncremental(spark, "/tmp/graft-test-spaninc")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (10L, 3L, 3L, 1000L),  // full verbatim copy of the standing store
      (11L, 3L, 1L, 333L),   // only the shared prefix span hits
      (12L, 1L, 0L, 0L),     // batch-internal overlap does not count
      (13L, 9L, 0L, 0L)),    // nor does a self-repeat
      s"incremental span ledger drifted: $out")
  }

  test("incremental span dedup replays in memory on the corpus") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source").as[(Long, String, String)].collect()
    def spans(t: String): Seq[String] = {
      val ws = t.split(" ")
      if (ws.length < 8) Seq.empty
      else (0 to ws.length - 8).map(i => ws.slice(i, i + 8).mkString(" "))
    }
    val standing = d.filter(_._3 != "src1").flatMap(r => spans(r._2)).toSet
    val expected = d.filter(_._3 == "src1").map { case (id, t, _) =>
      val sp = spans(t)
      val dup = sp.count(standing.contains).toLong
      (id, sp.length.toLong, dup,
        if (sp.nonEmpty) dup * 1000L / sp.length else 0L)
    }.toSet
    val got = Dedup.dedupSpanIncremental(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected, "incremental span ledger diverged from the replay")
    assert(got.nonEmpty)
  }

  // one 8-word doc ⇒ exactly one span, tagged by its first word
  private def spanText(tag: String) = s"$tag w w w w w w w"

  test("growth curve charges each span to its first-arrival shard") {
    // ids 0..9 with max=9 ⇒ shard = doc_id (one doc per decile);
    // span tags: A B A C B D A E F D ⇒ new at shards 0,1,3,5,7,8
    val tags = Seq("a", "b", "a", "c", "b", "d", "a", "e", "f", "d")
    val df = docsDf(tags.zipWithIndex.map { case (t, i) =>
      (i.toLong, spanText(t), "en")
    })
    df.write.mode("overwrite").parquet("/tmp/graft-test-gc/documents.parquet")
    val out = Dedup.dedupGrowthCurve(spark, "/tmp/graft-test-gc")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val newU = Seq(1L, 1L, 0L, 1L, 0L, 1L, 0L, 1L, 1L, 0L)
    val model = newU.zipWithIndex.map { case (n, i) =>
      (i.toLong, 1L, 1L, n, newU.take(i + 1).sum, n * 1000L)
    }
    assert(out == model)
  }

  test("growth curve reports shards whose docs are all shorter than a span") {
    // ids 0..9, max=9 ⇒ shard = doc_id. Shard 3's only doc is 2 words
    // (< SPAN_K = 8) — it contributes zero spans but must still appear
    // on the curve with its doc count, a NULL novelty rate (a permille
    // of zero spans is undefined, not 0‰), and no effect on the
    // cumulative unique-span mass. Deriving the shard spine from the
    // exploded spans (the pre-r11 shape) dropped the row entirely.
    val tags = Seq("a", "b", "a", null, "b", "d", "a", "e", "f", "d")
    val df = docsDf(tags.zipWithIndex.map { case (t, i) =>
      (i.toLong, if (t == null) "too short" else spanText(t), "en")
    })
    df.write.mode("overwrite").parquet("/tmp/graft-test-gc2/documents.parquet")
    val out = Dedup.dedupGrowthCurve(spark, "/tmp/graft-test-gc2")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(out.length == 10, s"expected all 10 shards on the curve, got $out")
    assert(out(3) == (3L, 1L, 0L, 0L, 2L, None),
      s"all-short-docs shard misreported: ${out(3)}")
    // new spans arrive at shards 0(a),1(b),5(d),7(e),8(f)
    val newU = Seq(1L, 1L, 0L, 0L, 0L, 1L, 0L, 1L, 1L, 0L)
    out.zipWithIndex.foreach { case ((sh, nd, ns, nn, cum, pm), i) =>
      assert(sh == i.toLong && nd == 1L && nn == newU(i)
          && cum == newU.take(i + 1).sum
          && pm == (if (ns > 0) Some(nn * 1000L / ns) else None),
        s"shard $i row mismatch: ${out(i)}")
    }
  }

  test("source overlap counts distinct spans shared per source pair") {
    // srcA {P,Q}, srcB {P}, srcC {Q,R}: A∩B={P}, A∩C={Q}, B∩C=∅
    val df = Seq(
      (1L, spanText("p"), "srcA"), (2L, spanText("q"), "srcA"),
      (3L, spanText("p"), "srcB"), (4L, spanText("q"), "srcC"),
      (5L, spanText("r"), "srcC"), (6L, spanText("q"), "srcA"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    df.write.mode("overwrite").parquet("/tmp/graft-test-so/documents.parquet")
    val out = Dedup.dedupSourceOverlap(spark, "/tmp/graft-test-so")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("srcA", "srcB", 1L, 1000L),  // 1 shared / min(2,1) uniques
      ("srcA", "srcC", 1L, 500L))) // 1 shared / min(2,2) uniques
  }

  test("minhash-lsh achieves full recall of exact jaccard pairs on sf0.001") {
    val exact = Dedup.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.dedupMinhashLsh(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "expected planted near-dup pairs in testdata")
    // LSH with 8 bands of 4 at j≥0.3: collision prob per pair ≥ 1-(1-j^4)^8;
    // planted pairs are j≥0.8 → recall should be complete on this corpus.
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall exact=${exact.size} lsh=${lsh.size}")
  }

  test("simhash distance is 0 for identical docs and candidates carry hamming<=8") {
    val df = docsDf(Seq(
      (1L, "spark window query batch merge sort", "en"),
      (2L, "spark window query batch merge sort", "en"),
      (3L, "completely different words entirely here now", "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-sh/documents.parquet")
    val out = Dedup.dedupSimhash(spark, "/tmp/graft-test-sh")
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(out.forall(_._3 <= 8))
  }

  test("components merge transitive near-dup chains to the min id") {
    val out = Dedup.dedupComponents(spark, sf)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    val pairs = Dedup.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    // every edge's endpoints share a component, and the component id
    // is a member of the vertex set with the minimum reachable id
    pairs.foreach { case (a, b) =>
      assert(out(a) == out(b), s"edge ($a,$b) split across components")
      assert(out(a) <= math.min(a, b))
    }
    assert(out.values.toSet.subsetOf(out.keySet))
  }

  test("cluster curate keeps exactly the component exemplars the pair policy over-keeps") {
    import graft.operators.Curate
    val pairKept = Curate.pipelineCurate(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val clusterKept = Curate.pipelineCurateCluster(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val comp = Dedup.dedupComponents(spark, sf)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    // cluster policy is at least as strict: it can only drop MORE docs
    assert(clusterKept.subsetOf(pairKept),
      s"cluster policy kept docs the pair policy dropped: ${clusterKept -- pairKept}")
    // and what it drops is exactly the non-exemplars among the pair-kept
    val expected = pairKept.filter(id => comp.get(id).forall(_ == id))
    assert(clusterKept == expected,
      s"diff: extra=${clusterKept -- expected} missing=${expected -- clusterKept}")
  }

  test("sequential packing is gapless: each offset continues the previous doc") {
    import graft.operators.Curate
    val rows = Curate.packSequential(spark, sf)
      .select("doc_id", "n_tokens", "tok_offset", "bin_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.head._3 == 0L)
    rows.sliding(2).foreach {
      case Array((_, n, off, _), (id2, _, off2, _)) =>
        assert(off2 == off + n, s"gap before doc $id2: $off+$n != $off2")
      case _ =>
    }
    rows.foreach { case (id, _, off, bin) =>
      assert(bin == off / 2048, s"doc $id bin mismatch") }
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val out = Dedup.dedupEmbedding(spark, sf)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
    assert(out.forall { case (a, b, c) => a < b && c >= 0.45 && c <= 1.0 + 1e-9 })
  }

  test("dedup_embedding refuses a corpus past its cardinality cap") {
    // the exact all-pairs verifier is quadratic BY CONTRACT: the fence
    // must fire loudly below any cluster-burning input, pointing at
    // dedup_embedding_ivf as the registered scale path
    val key = graft.operators.Dedup.EmbCapKey
    spark.conf.set(key, "3")
    try {
      val ex = intercept[IllegalArgumentException] {
        Dedup.dedupEmbedding(spark, sf)
      }
      assert(ex.getMessage.contains("dedup_embedding_ivf"),
        "the refusal must name the registered scale path")
      assert(ex.getMessage.contains(key),
        "the refusal must name the escape-hatch conf")
    } finally spark.conf.unset(key)
    // back under the cap, the verifier runs
    assert(Dedup.dedupEmbedding(spark, sf).count() >= 0)
  }

  test("corpus shuffle is a replayable permutation and not doc_id order") {
    val a = Curate.corpusShuffle(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect()
    assert(a.map(_._2).sorted.toSeq == (1L to a.length.toLong),
      "shuffle positions must be an exact 1..N permutation")
    val b = Curate.corpusShuffle(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect()
    assert(a.toSeq == b.toSeq, "shuffle must replay identically")
    // the salted hash order must actually shuffle: on ~hundreds of
    // docs the probability that hash order equals id order is ~0
    assert(a.sortBy(_._1).map(_._2).toSeq != (1L to a.length.toLong),
      "hash order degenerated to identity")
  }

  test("corpus growth preserves the relative shuffle order of existing docs") {
    // The shuffle key is a pure function of doc_id, so growing the
    // corpus can only INTERLEAVE new docs into the existing order —
    // never reorder old ones. This is what makes the epoch order
    // replayable on a live corpus: a resumed run whose corpus gained
    // documents keeps every previously-assigned relative position.
    // (A rand()-ordered shuffle re-deals everything on every change.)
    val full = Curate.corpusShuffle(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect()
    // Fresh per-run temp dir (not a fixed /tmp path): concurrent CI
    // runs on one machine must not interleave writes, and the suite
    // must not leak the directory.
    val growDir = java.nio.file.Files.createTempDirectory("graft-test-grow")
    try {
      val half = spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") % 2 === 0)
      half.write.mode("overwrite").parquet(s"$growDir/documents.parquet")
      val sub = Curate.corpusShuffle(spark, growDir.toString)
        .select("doc_id", "shuffle_pos").as[(Long, Long)].collect()
      assert(sub.nonEmpty && sub.length < full.length, "vacuous growth check")
      val fullOrder = full.sortBy(_._2).map(_._1).filter(_ % 2 == 0).toSeq
      val subOrder = sub.sortBy(_._2).map(_._1).toSeq
      assert(subOrder == fullOrder,
        "growing the corpus reordered previously-positioned docs")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(growDir.toFile)
    }
  }

  test("corpus_shuffle_grown: growth interleaves, never reorders (registered face)") {
    val rows = Curate.corpusShuffleGrown(spark, sf)
      .select("doc_id", "pos_before", "pos_after")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty, "vacuous grown-shuffle check")
    // pos_before is an exact 1..N permutation of the surviving docs
    assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong),
      "before-positions must be a dense 1..N permutation")
    // the before→after position map is strictly monotone: sorting by
    // either column yields the same doc order, so appended docs only
    // ever INTERLEAVE into the existing epoch order
    val byBefore = rows.sortBy(_._2).map(_._1).toSeq
    val byAfter = rows.sortBy(_._3).map(_._1).toSeq
    assert(byBefore == byAfter,
      "growing the corpus reordered previously-positioned docs")
    // after-positions are a strict subsequence of a larger order
    assert(rows.map(_._3).max > rows.length.toLong,
      "after-order must actually contain the appended docs")
  }

  test("tokenize_bpe matches an independent in-memory BPE trainer") {
    // Word counts straight off the corpus — the only shared input.
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect()
    // Reference trainer: the Sennrich merge loop over a char-split
    // vocab — plain Scala collections, no Spark, no shared code with
    // the operator's delimited-string representation.
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }.toMap
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var k = 1
    var done = false
    while (k <= 16 && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), cnt) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        expect += ((k.toLong, l, r, l + r, cnt))
        vocab = vocab.toSeq.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        k += 1
      }
    }
    val got = TextOps.tokenizeBpe(spark, sf)
      .select("rank", "left_sym", "right_sym", "merged", "pair_freq")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got.nonEmpty, "vacuous BPE check")
    assert(got == expect.toSeq,
      "Spark BPE training diverged from the in-memory reference trainer")
    // merge ranks are dense and pair frequencies can only be produced
    // by pairs that existed at merge time
    assert(got.map(_._1) == (1L to got.length.toLong))
    assert(got.forall(_._5 > 0))
  }

  test("tokenize_vocab_curve: conservation identity against real re-segmentation") {
    val curve = TextOps.tokenizeVocabCurve(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.length == 17)
    // monotone: every merge strictly shrinks the corpus, compression
    // strictly improves, the vocab axis is dense
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 < a._3 && b._4 >= a._4 && b._2 == a._2 + 1)
    }
    // identity vs REAL re-segmentation at two budgets: replay the
    // first J merges over the word vocab and count symbols directly
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect()
    val merges = TextOps.tokenizeBpe(spark, sf)
      .select("left_sym", "right_sym").as[(String, String)].collect()
    def resegmentMass(j: Int): Long = {
      var vocab: Map[Vector[String], Long] =
        words.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }.toMap
      merges.take(j).foreach { case (l, r) =>
        vocab = vocab.toSeq.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
      vocab.map { case (syms, f) => syms.length * f }.sum
    }
    Seq(4, 16).foreach { j =>
      assert(curve(j)._3 == resegmentMass(j),
        s"budget $j: prefix-sum identity diverges from real re-segmentation")
    }
    // the full-budget row IS the segment table's mass
    val segMass = TextOps.tokenizeBpeSegments(spark, sf)
      .select(expr("CAST(freq * n_syms AS BIGINT)")).as[Long].collect().sum
    assert(curve(16)._3 == segMass,
      "J=16 total diverges from tokenize_bpe_segments mass")
  }

  test("tokenize_wordpiece_train matches an in-memory likelihood trainer, diverges from BPE") {
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect()
    // reference trainer: same merge loop as the BPE spec but the
    // winner maximizes the exact staged likelihood score
    // floor(cnt·1e18 / (lcnt·rcnt)) with (score desc, l, r) ties
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }.toMap
    val E18 = BigInt(10).pow(18)
    val expect = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Long, Long, Long)]
    var k = 1
    var done = false
    while (k <= 12 && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      val syms = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (ss, f) =>
        ss.foreach(sm => syms(sm) = syms.getOrElse(sm, 0L) + f)
        ss.sliding(2).foreach {
          case Seq(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val scored = pairs.toSeq.map { case ((a, b), c) =>
          val sc = (BigInt(c) * E18 / (BigInt(syms(a)) * syms(b))).toLong
          (a, b, c, syms(a), syms(b), sc)
        }
        val (l, r, cnt, lc, rc, sc) =
          scored.minBy { case (a, b, _, _, _, s0) => (-s0, a, b) }
        expect += ((k.toLong, l, r, l + r, cnt, lc, rc, sc))
        vocab = vocab.toSeq.map { case (ss, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += ss(i); i += 1 }
          }
          (out.result(), f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        k += 1
      }
    }
    val got = TextOps.tokenizeWordpieceTrain(spark, sf)
      .as[(Long, String, String, String, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got.nonEmpty, "vacuous WordPiece-train check")
    assert(got == expect.toSeq,
      "Spark WordPiece training diverged from the in-memory reference")
    // the likelihood criterion must actually differ from raw frequency:
    // the two disciplines' merge sequences diverge on this corpus
    val bpe = TextOps.tokenizeBpe(spark, sf)
      .select("merged").as[String].collect().toSeq
    assert(got.map(_._4) != bpe.take(got.length),
      "WordPiece picked BPE's exact merge sequence — criterion vacuous here")
    // cohesion sanity: a winner's score never exceeds 1e18/min-side
    // (score = 1e18·cnt/(lcnt·rcnt) and cnt <= min(lcnt, rcnt))
    got.foreach { case (_, _, _, _, cnt, lc, rc, sc) =>
      assert(cnt <= lc && cnt <= rc)
      assert(BigInt(sc) <= E18 / BigInt(math.max(lc, rc)),
        "score exceeds the perfect-cohesion bound")
    }
  }

  test("tokenize_bpe_segments: segmentations tile each word and use only trained symbols") {
    val merges = TextOps.tokenizeBpe(spark, sf)
      .select("merged").as[String].collect().toSet
    val segs = TextOps.tokenizeBpeSegments(spark, sf)
      .select("word", "freq", "n_syms", "segmented")
      .as[(String, Long, Long, String)].collect()
    assert(segs.nonEmpty, "vacuous segments check")
    segs.foreach { case (w, f, n, seg) =>
      val syms = seg.split(" ").toSeq
      assert(syms.length.toLong == n, s"$w: n_syms miscounts")
      assert(f > 0)
      // lossless: symbols concatenate back to the marked word
      assert(syms.mkString == w + "</w>",
        s"$w: segmentation does not tile the word: $seg")
      // closed over the trained model: every multi-char symbol is either
      // the end-of-word marker or the product of a trained merge
      syms.foreach { sym =>
        assert(sym.length == 1 || sym == "</w>" || merges.contains(sym),
          s"$w: symbol '$sym' is not single-char, marker, or a trained merge")
      }
    }
    // training actually compressed something: at least one word ends up
    // in fewer symbols than characters+marker
    assert(segs.exists { case (w, _, n, _) => n < w.length + 1 },
      "no word was compressed by the trained merges")
  }

  test("tokenize_wordpiece: greedy longest-match is lossless, vocab-closed, and maximal") {
    val merges = TextOps.tokenizeBpe(spark, sf)
      .select("merged").as[String].collect()
      .map(_.replace("</w>", "")).filter(_.nonEmpty).toSet
    val rows = TextOps.tokenizeWordpiece(spark, sf)
      .select("word", "freq", "n_pieces", "segmented", "n_fallback")
      .as[(String, Long, Long, String, Long)].collect()
    assert(rows.nonEmpty)
    val alphabet = rows.flatMap(_._1.toSeq).map(_.toString).toSet
    val vocab = alphabet ++ merges
    rows.foreach { case (w, f, n, seg, nf) =>
      val pieces = seg.split(" ").toSeq
      assert(pieces.length.toLong == n && f > 0, s"$w: ledger wrong")
      // lossless: pieces concatenate back to the word (no marker here)
      assert(pieces.mkString == w, s"$w: pieces don't tile the word: $seg")
      // closed over alphabet + merge outputs; full alphabet => the
      // char fallback is structurally never taken
      pieces.foreach(p => assert(vocab.contains(p), s"$w: piece '$p' not in vocab"))
      assert(nf == 0L, s"$w: fallback taken despite full alphabet")
      // GREEDY maximality: at each position no STRICTLY longer vocab
      // piece matches than the one taken
      var pos = 0
      pieces.foreach { p =>
        ((p.length + 1) to (w.length - pos)).foreach { l =>
          assert(!vocab.contains(w.substring(pos, pos + l)),
            s"$w@$pos: took '$p' but longer piece '${w.substring(pos, pos + l)}' matches")
        }
        pos += p.length
      }
    }
    // the trained merges are actually exercised: at least one word
    // segments with a multi-char piece
    assert(rows.exists { case (w, _, n, _, _) => n < w.length },
      "no word used any multi-char piece")
  }

  test("tokenize_unigram: Viterbi segmentations are cost-optimal and lossless") {
    val model = TextOps.tokenizeUnigram(spark, sf)
      .select("piece", "seed_mass", "em_mass", "cost_bits")
      .as[(String, Long, Long, Long)].collect()
    assert(model.nonEmpty)
    val cost = model.map(r => r._1 -> r._4).toMap
    // Laplace floor: every piece keeps finite mass and non-negative cost
    model.foreach { case (p, sm, em, c) =>
      assert(sm >= 1 && em >= 1 && c >= 0, s"piece '$p' degenerate")
    }
    val rows = TextOps.tokenizeUnigramSegments(spark, sf)
      .select("word", "freq", "n_pieces", "segmented", "cost_bits")
      .as[(String, Long, Long, String, Long)].collect()
    assert(rows.nonEmpty)
    // alphabet closure: every corpus character is a piece
    rows.flatMap(_._1.toSeq).map(_.toString).distinct
      .foreach(c => assert(cost.contains(c), s"alphabet char '$c' missing"))
    // brute-force ALL segmentations into <=4-char vocab pieces and
    // require the emitted path to be the (cost, n, seg) minimum
    def allSegs(w: String): Seq[(Long, Long, String)] = {
      if (w.isEmpty) Seq((0L, 0L, ""))
      else (1 to math.min(4, w.length)).flatMap { l =>
        val h = w.substring(0, l)
        cost.get(h).toSeq.flatMap { c =>
          allSegs(w.substring(l)).map { case (tc, tn, ts) =>
            (tc + c, tn + 1L, if (ts.isEmpty) h else h + " " + ts)
          }
        }
      }
    }
    rows.foreach { case (w, f, n, seg, c) =>
      val pieces = seg.split(" ").toSeq
      assert(pieces.mkString == w, s"$w: pieces don't tile the word")
      assert(pieces.length.toLong == n && f > 0, s"$w: ledger wrong")
      assert(pieces.map(cost).sum == c, s"$w: cost doesn't add up")
      val best = allSegs(w).min
      assert((c, n, seg) == best,
        s"$w: emitted ($c,$n,'$seg') but optimum is $best")
    }
    // the model must actually compress: some word uses a multi-char piece
    assert(rows.exists { case (w, _, n, _, _) => n < w.length },
      "no word used any multi-char piece — unigram model vacuous")
  }

  test("tokenize_compare: the selection report ties out against each family's face") {
    val rows = TextOps.tokenizeCompare(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("bpe", "unigram", "wordpiece"))
    // all three disciplines cover the same word vocabulary
    assert(rows.map(_._2).distinct.length == 1, "families disagree on n_words")
    // per-family recompute from the segment faces
    def massOf(df: org.apache.spark.sql.DataFrame, n: String): (Long, Long, Long) = {
      val r = df.select(col("freq"), col(n), col("word"), col("segmented"))
        .as[(Long, Long, String, String)].collect()
      (r.map(x => x._1 * x._2).sum,
        r.flatMap(_._4.split(" ")).distinct.length.toLong,
        r.map(x => x._1 * x._3.length).sum)
    }
    val faces = Map(
      "bpe" -> massOf(TextOps.tokenizeBpeSegments(spark, sf), "n_syms"),
      "wordpiece" -> massOf(TextOps.tokenizeWordpiece(spark, sf), "n_pieces"),
      "unigram" -> massOf(TextOps.tokenizeUnigramSegments(spark, sf), "n_pieces"))
    rows.foreach { case (fam, _, subwords, pieces, cpp) =>
      val (m, p, chars) = faces(fam)
      assert(subwords == m, s"$fam mass")
      assert(pieces == p, s"$fam inventory")
      assert(cpp == 1000L * chars / m, s"$fam compression")
    }
    // the BPE row's mass is EXACTLY what pack_subword packs
    val packed = graft.operators.Curate.packSubword(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_subwords")).as[Long].head()
    assert(rows.find(_._1 == "bpe").get._3 == packed,
      "bpe corpus mass != pack_subword's packed mass")
    // the disciplines must actually differ (else the report is vacuous)
    assert(rows.map(_._3).distinct.length > 1, "all families same mass")
  }

  test("tokenize_bpe_ids round-trips: decoding subword ids reproduces each document") {
    // invert the id table, decode every doc, compare to the raw text
    val segs = TextOps.tokenizeBpeSegments(spark, sf)
      .select("word", "segmented").as[(String, String)].collect()
    val id2sym = {
      // rebuild the same freq-ranked id assignment independently
      val freq = spark.read.parquet(s"$sf/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").groupBy("w").count()
        .as[(String, Long)].collect().toMap
      val occ = scala.collection.mutable.Map.empty[String, Long]
      segs.foreach { case (w, seg) =>
        seg.split(" ").foreach(s => occ(s) = occ.getOrElse(s, 0L) + freq(w)) }
      occ.toSeq.sortBy { case (s, n) => (-n, s) }.zipWithIndex
        .map { case ((s, _), i) => (i.toLong + 256L) -> s }.toMap
    }
    val decoded = TextOps.tokenizeBpeIds(spark, sf)
      .select("doc_id", "pos", "sym_id").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (d, rows) =>
        val sorted = rows.sortBy(_._2)
        // positions dense from 0
        assert(sorted.map(_._2).toSeq == (0L until rows.length.toLong),
          s"doc $d: subword positions not dense")
        d -> sorted.map(r => id2sym(r._3)).mkString
      }
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(decoded.nonEmpty, "vacuous bpe-ids check")
    decoded.foreach { case (d, dec) =>
      val expect = texts(d).split(" ").filter(_.nonEmpty)
        .map(_ + "</w>").mkString
      assert(dec == expect, s"doc $d: decoded stream diverges from the text")
    }
  }

  test("text_redact scrubs every planted span and counts per class") {
    val out = TextOps.textRedact(spark, sf)
      .select("doc_id", "redacted", "n_email", "n_phone", "n_id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.nonEmpty, "vacuous redact check")
    out.foreach { case (id, red, ne, np, ni) =>
      // each doc carries at least its planted span per class
      assert(ne >= 1, s"doc $id: planted email not counted")
      assert(np >= 1, s"doc $id: planted phone not counted")
      assert(ni >= 1, s"doc $id: planted id not counted")
      // the scrub is complete: no class pattern survives in the output
      assert(!red.matches(".*[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}.*"),
        s"doc $id: email survived redaction")
      assert(!"\\b[0-9]{3}-[0-9]{4}\\b".r.findFirstIn(red).isDefined,
        s"doc $id: phone survived redaction")
      assert(!"\\b[0-9]{6,}\\b".r.findFirstIn(red).isDefined,
        s"doc $id: long id survived redaction")
      // and the class tokens landed
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>") && red.contains("<ID>"))
    }
  }

  test("epoch-1 shuffle is a decorrelated permutation of epoch 0") {
    val e0 = Curate.corpusShuffle(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val e1 = Curate.corpusShuffleE1(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val n = e0.size
    assert(e1.size == n, "epochs must cover the same corpus")
    assert(e1.values.toSeq.sorted == (1L to n.toLong),
      "epoch-1 positions must be an exact 1..N permutation")
    assert(e0.exists { case (id, p) => e1(id) != p },
      "epoch salts produced the identical permutation")
    // Spearman rank correlation between the two epochs' positions:
    // decorrelated salts should land near 0. On N ~ hundreds the
    // null-distribution stddev is 1/sqrt(N-1) ~ 0.04; |rho| < 0.2 is
    // a 5-sigma band — tight enough to reject a rotated/offset salt
    // (|rho| ~ 1) while never flaking on a true reshuffle.
    val pairs = e0.keys.toSeq.map(id => (e0(id).toDouble, e1(id).toDouble))
    val mean = (n + 1) / 2.0
    val num = pairs.map { case (a, b) => (a - mean) * (b - mean) }.sum
    val den = pairs.map { case (a, _) => (a - mean) * (a - mean) }.sum
    val rho = num / den
    assert(math.abs(rho) < 0.2, s"epoch permutations correlate: rho=$rho")
  }

  test("shuffled packing equals a model pack over the replayed permutation") {
    val out = Curate.packShuffled(spark, sf)
      .select("doc_id", "shuffle_pos", "n_tokens", "tok_offset", "bin_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    // positions are the corpus_shuffle permutation
    val pos = Curate.corpusShuffle(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    out.foreach { case (id, p, _, _, _) =>
      assert(pos(id) == p, s"doc $id packed at $p but shuffled to ${pos(id)}") }
    // model pack: fold the docs in shuffle order, accumulating offsets
    var expect = 0L
    out.foreach { case (id, p, n, off, bin) =>
      assert(off == expect, s"doc $id (pos $p): offset $off, expected $expect")
      assert(bin == off / 2048, s"doc $id bin mismatch")
      expect += n
    }
    // and the token counts are the same ledger packSequential uses
    val seqTok = Curate.packSequential(spark, sf)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    out.foreach { case (id, _, n, _, _) =>
      assert(seqTok(id) == n, s"doc $id token count drifted") }
  }

  test("pack efficiency ledger is internally consistent across widths") {
    val rows = Curate.packEfficiency(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(512L, 1024L, 2048L, 4096L))
    val toks = rows.map(_._3).distinct
    assert(toks.length == 1 && toks.head > 0,
      "corpus token mass must be width-independent")
    rows.foreach { case (w, nd, tok, padded, ppm, packed) =>
      // Both floors hold unconditionally (separate asserts: `&&`/`||`
      // precedence in the old combined form let a zero-doc row pass).
      assert(nd > 0, s"w=$w: empty ledger row")
      assert(padded >= nd, s"w=$w: padded windows below the per-doc floor")
      assert(padded >= (tok + w - 1) / w,
        s"w=$w: padded windows below the token-mass floor")
      // dense packing can only use fewer (or equal) windows
      assert(packed == (tok + w - 1) / w, s"w=$w packed window count wrong")
      assert(packed <= padded, s"w=$w: packing used MORE windows than padding")
      // the ppm is exactly the integer ratio of the reported columns
      assert(ppm == 1000000L * tok / (padded * w), s"w=$w fill ppm inconsistent")
      assert(ppm <= 1000000L, s"w=$w fill over 100%")
    }
    // wider windows can only waste more under padding: fill monotone down
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 >= b._5, "padded fill must fall as windows widen")
    case _ => }
  }

  test("epoch mix matrix spreads every epoch-0 shard across epoch-1 shards") {
    val cells = Curate.corpusEpochMix(spark, sf)
      .as[(Long, Long, Long)].collect()
    val n = cells.map(_._3).sum
    val pos = Curate.corpusShuffle(spark, sf).count()
    assert(n == pos, "mix matrix must cover every doc exactly once")
    // decorrelated epochs: each epoch-0 shard's ~N/16 docs re-deal
    // across many epoch-1 shards (correlated salts → 1-2); and no cell
    // hoards — expected N/256 docs/cell, bound at 10x expected
    val byE0 = cells.groupBy(_._1)
    assert(byE0.keySet == (0L until 16L).toSet)
    byE0.foreach { case (s0, cs) =>
      assert(cs.length >= 8, s"epoch-0 shard $s0 re-dealt into only ${cs.length} shards")
    }
    val bound = math.max(10L * n / 256, 10L)
    cells.foreach { case (s0, s1, c) =>
      assert(c <= bound, s"cell ($s0,$s1) hoards $c docs (bound $bound)") }
  }

  test("corpus shards tile the shuffle into contiguous ±1-balanced ranges") {
    val rows = Curate.corpusShards(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val n = rows.map(_._2).sum
    assert(rows.map(_._1) == (0L until 16L), "expected 16 shards in order")
    rows.foreach { case (sh, nd, tok, fp, lp) =>
      assert(lp - fp + 1 == nd, s"shard $sh positions not contiguous")
      assert(nd == n / 16 || nd == n / 16 + 1, s"shard $sh unbalanced: $nd")
      assert(tok > 0, s"shard $sh token sum missing")
    }
    // ranges tile 1..N with no gap or overlap
    assert(rows.head._4 == 1L && rows.last._5 == n)
    rows.sliding(2).foreach { w =>
      assert(w(1)._4 == w(0)._5 + 1,
        s"gap between shards ${w(0)._1} and ${w(1)._1}")
    }
    // manifest describes the corpus_shuffle permutation (same salt)
    val pos = Curate.corpusShuffle(spark, sf)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect()
    assert(pos.length == n)
  }

  test("content-hash split is deterministic and keeps exact duplicates together") {
    import graft.operators.Curate
    val a = Curate.splitTrainVal(spark, sf).collect()
    val b = Curate.splitTrainVal(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "split not deterministic")
    // same text ⇒ same split, by construction of the content hash
    val df = docsDf(Seq((1L, "alpha beta gamma", "en"), (2L, "alpha beta gamma", "en"),
      (3L, "delta epsilon zeta", "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-split/documents.parquet")
    val m = Curate.splitTrainVal(spark, "/tmp/graft-test-split")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(m(1L) == m(2L), "identical texts split apart")
  }

  test("split_kfold: complete partition, duplicate-safe, exact fold ledger") {
    val rows = Curate.splitKfold(spark, sf)
      .select("doc_id", "fold", "fold_docs", "fold_tokens")
      .as[(Long, Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    // complete: every doc in exactly one fold, folds in 0..4
    assert(rows.length == docs.length)
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall(r => r._2 >= 0 && r._2 < 5))
    // the ledger columns are the exact per-fold totals
    val byFold = rows.groupBy(_._2)
    byFold.foreach { case (f, rs) =>
      assert(rs.forall(_._3 == rs.length.toLong), s"fold $f: doc total wrong")
    }
    // content-hash assignment ⇒ byte-identical docs share a fold
    val foldOf = rows.map(r => r._1 -> r._2).toMap
    docs.groupBy(_._2).values.filter(_.length > 1).foreach { dups =>
      assert(dups.map(d => foldOf(d._1)).distinct.length == 1,
        "exact duplicates were split across folds")
    }
    // no fold is empty (balance within hash variance on 500 docs)
    assert(byFold.size == 5, "a fold came up empty")
    // and the fold boundary is decorrelated from the train/val bucket:
    // both splits exist inside every fold
    val tv = Curate.splitTrainVal(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    byFold.foreach { case (f, rs) =>
      assert(rs.map(r => tv(r._1)).toSet == Set("train", "val"),
        s"fold $f aligned with the train/val boundary")
    }
  }

  test("split leakage reports only cross-split near-dup pairs") {
    import graft.operators.Curate
    val splits = Curate.splitTrainVal(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    Curate.splitLeakage(spark, sf)
      .select("doc_a", "doc_b", "split_a", "split_b")
      .as[(Long, Long, String, String)].collect().foreach { case (a, b, sa, sb) =>
        assert(sa != sb)
        assert(splits(a) == sa && splits(b) == sb)
      }
  }

  test("split_dedup_aware: no verified pair straddles; singletons keep the content split") {
    import graft.operators.{Curate, Dedup}
    val sda = Curate.splitDedupAware(spark, sfMid)
      .select("doc_id", "component", "split").as[(Long, Long, String)].collect()
    val splitOf = sda.map(r => r._1 -> r._3).toMap
    val pairs = Dedup.dedupNgramJaccard(spark, sfMid)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "need near-dup pairs for a non-vacuous check")
    // the property splitLeakage detects is impossible here by design
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b),
        s"pair ($a,$b) straddles the dedup-aware split")
    }
    // every component rides one side; unpaired docs keep their own
    // splitTrainVal assignment (the split changes ONLY where dedup
    // demands it)
    val byComp = sda.groupBy(_._2)
    byComp.values.foreach(ms =>
      assert(ms.map(_._3).distinct.length == 1, "component split apart"))
    val tv = Curate.splitTrainVal(spark, sfMid)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    sda.foreach { case (id, c, sp) =>
      if (c == id && byComp(c).length == 1)
        assert(sp == tv(id), s"singleton $id moved sides")
    }
  }

  test("corpus_shard_skew: deviations tie out against the manifest, flags match") {
    import graft.operators.Curate
    val manifest = Curate.corpusShards(spark, sf)
      .select("shard", "n_tokens").as[(Long, Long)].collect().toMap
    val rows = Curate.corpusShardSkew(spark, sf)
      .select("shard", "n_tokens", "mean_tokens", "dev_ppm", "straggler")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.length == manifest.size)
    val mean = manifest.values.sum / manifest.size
    rows.foreach { case (sh, n, m, dev, st) =>
      assert(n == manifest(sh), s"shard $sh token mass diverges")
      assert(m == mean, s"shard $sh mean wrong")
      assert(dev == 1000000L * (n - mean) / mean, s"shard $sh dev_ppm wrong")
      assert(st == (n * 1000000L > mean * 1050000L), s"shard $sh flag wrong")
    }
    // deviations are centered: both signs present on a hash split
    assert(rows.exists(_._4 > 0) && rows.exists(_._4 < 0),
      "hash-split token deviations should straddle the mean")
  }

  test("dedup_cluster_stats: histogram ties out against the component labels") {
    import graft.operators.Dedup
    val comp = Dedup.dedupComponents(spark, sfMid)
      .select("doc_id", "component").as[(Long, Long)].collect()
    val hist = Dedup.dedupClusterStats(spark, sfMid)
      .select("cluster_size", "n_clusters", "n_docs", "docs_removed")
      .as[(Long, Long, Long, Long)].collect()
    assert(hist.nonEmpty)
    // every component holds >= 2 paired docs by construction
    assert(hist.forall(_._1 >= 2), "singleton cluster in the pair graph")
    // ledger identities
    hist.foreach { case (sz, nc, nd, rem) =>
      assert(nd == sz * nc && rem == (sz - 1) * nc, s"ledger wrong at size $sz")
    }
    // the histogram is exactly the label relation's size distribution
    val sizes = comp.groupBy(_._2).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    assert(hist.map(h => h._1 -> h._2).toMap == sizes,
      "histogram diverges from the labels")
    assert(hist.map(_._3).sum == comp.length.toLong, "doc mass lost")
  }

  test("dedup_keep_best: one keeper per cluster either way; keep-best quality mass dominates") {
    import graft.operators.Dedup
    val comp = Dedup.dedupComponents(spark, sfMid)
      .select("doc_id", "component").as[(Long, Long)].collect()
    val nClusters = comp.map(_._2).distinct.length.toLong
    val rows = Dedup.dedupKeepBest(spark, sfMid)
      .select("source", "n_paired", "kept_minid", "kept_best",
        "mb_kept_minid", "mb_kept_best")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // one keeper per cluster under BOTH policies
    assert(rows.map(_._3).sum == nClusters, "min-id keeper count != clusters")
    assert(rows.map(_._4).sum == nClusters, "best keeper count != clusters")
    assert(rows.map(_._2).sum == comp.length.toLong, "paired doc mass lost")
    // policy dominance: keep-best's kept quality mass >= min-id's,
    // globally (per cluster best >= incumbent by construction)
    val bestMass = rows.map(_._6).sum; val minidMass = rows.map(_._5).sum
    assert(bestMass >= minidMass, "keep-best lost the quality contest it defines")
    // non-vacuous: the policies must actually disagree somewhere
    assert(bestMass > minidMass || rows.exists(r => r._3 != r._4),
      "keep-best == min-id everywhere — policy face vacuous at this SF")
    // in-memory replay of the argmax: keeper = (mb desc, doc_id) row 1
    val mb = graft.operators.TextOps.textQuality(spark, sfMid)
      .select("doc_id", "quality_score").as[(Long, Double)].collect()
      .map { case (id, q) => id -> math.min(math.floor(q * 1000).toLong, 999L) }.toMap
    val srcOf = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val perSourceBest = comp.groupBy(_._2).values.map { members =>
      srcOf(members.map(m => (-mb(m._1), m._1)).min._2)
    }.groupBy(identity).map { case (s0, xs) => s0 -> xs.size.toLong }
    assert(rows.map(r => r._1 -> r._4).filter(_._2 > 0).toMap == perSourceBest,
      "keep-best keeper attribution diverges from the in-memory argmax")
  }

  test("corpus_diversity: ledger replayed from per-doc trigram sets; novelty conserved") {
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def tris(t: String): Set[String] = {
      val ws = t.split(" ")
      if (ws.length < 3) Set.empty
      else (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
    }
    val perDoc = docs.map { case (id, src, t) => (src, tris(t)) }
    val got = graft.operators.Dedup.corpusDiversity(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val srcSets = perDoc.groupBy(_._1)
    assert(got.map(_._1).toSet == srcSets.keySet)
    val ownedBy = perDoc.flatMap { case (src, ts) => ts.map(_ -> src) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.toList }
    got.foreach { case (src, inc, dist, ttr, uniq, uppm) =>
      val sets = srcSets(src).map(_._2)
      assert(inc == sets.map(_.size.toLong).sum, s"$src incidences")
      val union = sets.foldLeft(Set.empty[String])(_ ++ _)
      assert(dist == union.size.toLong, s"$src distinct")
      assert(ttr == 1000000L * dist / inc, s"$src ttr")
      assert(uniq == union.count(t => ownedBy(t) == List(src)).toLong, s"$src unique")
      assert(uppm == 1000000L * uniq / dist, s"$src unique_ppm")
    }
    // unique shingles are a partition: each belongs to exactly one source
    assert(got.map(_._5).sum ==
      ownedBy.count(_._2.length == 1).toLong, "novelty mass not conserved")
    // non-vacuous: sources must differ in novelty somewhere
    assert(got.map(_._6).distinct.length > 1, "identical novelty everywhere")
  }

  test("tokenize_piece_overlap replays from the segment faces and ties to tokenize_compare") {
    import graft.operators.TextOps
    def pieces(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select("freq", "segmented").as[(Long, String)].collect()
        .flatMap { case (f, seg) => seg.split(" ").map(_ -> f) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val inv = Map(
      "bpe" -> pieces(TextOps.tokenizeBpeSegments(spark, sfMid)),
      "wordpiece" -> pieces(TextOps.tokenizeWordpiece(spark, sfMid)),
      "unigram" -> pieces(TextOps.tokenizeUnigramSegments(spark, sfMid)))
    val got = TextOps.tokenizePieceOverlap(spark, sfMid)
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 3)
    got.foreach { case (fa, fb, sh, oa, ob, jac, ma, mb) =>
      val (pa, pb) = (inv(fa), inv(fb))
      val shared = pa.keySet & pb.keySet
      assert(sh == shared.size.toLong, s"$fa-$fb shared")
      assert(oa == (pa.keySet -- pb.keySet).size.toLong, s"$fa-$fb only_a")
      assert(ob == (pb.keySet -- pa.keySet).size.toLong, s"$fa-$fb only_b")
      assert(jac == 1000000L * sh / (pa.size + pb.size - sh), s"$fa-$fb jaccard")
      assert(ma == 1000000L * shared.toSeq.map(pa).sum / pa.values.sum, s"$fa-$fb mass_a")
      assert(mb == 1000000L * shared.toSeq.map(pb).sum / pb.values.sum, s"$fa-$fb mass_b")
      // migration risk is real: inventories must genuinely differ
      assert(oa + ob > 0, s"$fa-$fb identical inventories — overlap face vacuous")
    }
    // cross-face tie: shared + only_a is tokenize_compare's inventory
    val cmp = TextOps.tokenizeCompare(spark, sfMid)
      .select("family", "distinct_pieces").as[(String, Long)].collect().toMap
    got.foreach { case (fa, fb, sh, oa, ob, _, _, _) =>
      assert(sh + oa == cmp(fa), s"$fa inventory diverges from tokenize_compare")
      assert(sh + ob == cmp(fb), s"$fb inventory diverges from tokenize_compare")
    }
  }

  test("text_pii_audit ties out against the redact face per class and source") {
    import graft.operators.TextOps
    val srcOf = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val toks = TextOps.textTokens(spark, sfMid)
      .select("doc_id", "ws_tokens").as[(Long, Long)].collect().toMap
    val red = TextOps.textRedact(spark, sfMid)
      .select("doc_id", "n_email", "n_phone", "n_id")
      .as[(Long, Long, Long, Long)].collect()
    val got = TextOps.textPiiAudit(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, nd, nt, ne, np, ni, hpm, aff) =>
      val docs = red.filter(r => srcOf(r._1) == src)
      assert(nd == docs.length.toLong, s"$src n_docs")
      // the audit's class counts ARE the redact face's, rolled up
      assert(ne == docs.map(_._2).sum, s"$src emails")
      assert(np == docs.map(_._3).sum, s"$src phones")
      assert(ni == docs.map(_._4).sum, s"$src ids")
      // denominator is the ORIGINAL token mass (text_tokens' ws count)
      assert(nt == docs.map(r => toks(r._1)).sum, s"$src token mass")
      assert(hpm == 1000000L * (ne + np + ni) / nt, s"$src hits_per_mtok")
      val affected = docs.count(r => r._2 + r._3 + r._4 > 0).toLong
      assert(aff == 1000000L * affected / nd, s"$src affected_ppm")
    }
    // the plant guarantees non-vacuity: every doc carries one of each
    assert(got.forall(_._8 == 1000000L), "planted spans missing somewhere")
  }

  test("graph_kcore: peel replayed in memory, fixpoint inside the unrolled rounds") {
    import graft.operators.Dedup
    val pairs = Dedup.dedupNgramJaccard(spark, sfMid)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    var edges = (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    val model = collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    for (r <- 0 to 8) {
      model += ((r.toLong, edges.map(_._1).size.toLong, edges.size.toLong / 2))
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= 2).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
    }
    val got = Dedup.graphKcore(spark, sfMid)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == model.toSeq, "ledger diverges from the in-memory peel")
    // fixpoint landed inside the 8 unrolled rounds — the hash pins a
    // converged ledger, not a truncation
    assert(got(8)._2 == got(7)._2 && got(8)._3 == got(7)._3,
      "peel did not converge within 8 rounds")
    // non-vacuous: a multiply-connected core must survive
    assert(got(8)._2 > 0, "2-core empty — peel face vacuous at this SF")
    // round 1 must actually peel something (pairs exist)
    assert(got(1)._2 < got(0)._2, "nothing peeled — no thin tissue")
  }

  test("ml_eval_slices ties out against the registered teacher and student faces") {
    import graft.operators.{Dedup => _, TextOps}
    val teacher = TextOps.textQuality(spark, sfMid)
      .select("doc_id", "quality_score").as[(Long, Double)].collect()
      .map { case (id, q) => id -> (q >= 0.5) }.toMap
    val student = TextOps.qualityClassifier(spark, sfMid)
      .select("doc_id", "keep").as[(Long, Long)].collect()
      .map { case (id, k) => id -> (k == 1L) }.toMap
    val srcOf = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source").as[(Long, String)].collect()
    val got = TextOps.mlEvalSlices(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, n, tp, fp, fn, tn, agree) =>
      val ids = srcOf.filter(_._2 == src).map(_._1)
      assert(n == ids.length.toLong, s"$src n_docs")
      assert(tp == ids.count(i => teacher(i) && student(i)).toLong, s"$src tp")
      assert(fp == ids.count(i => !teacher(i) && student(i)).toLong, s"$src fp")
      assert(fn == ids.count(i => teacher(i) && !student(i)).toLong, s"$src fn")
      assert(tn == ids.count(i => !teacher(i) && !student(i)).toLong, s"$src tn")
      assert(tp + fp + fn + tn == n, s"$src confusion mass")
      assert(agree == 1000000L * (tp + tn) / n, s"$src agree_ppm")
    }
    // the known global disagreement (ml_auc's stopword-axis finding)
    // must surface in at least one slice
    assert(got.exists(r => r._4 + r._5 > 0), "no disagreement anywhere — slices vacuous")
  }

  test("text_zipf_fit: doubling-rank buckets replayed in memory, mass conserved") {
    import graft.operators.TextOps
    val counts = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("text").as[String].collect()
      .flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }.toSeq
    val ranked = counts.sortBy { case (w, n) => (-n, w) }.zipWithIndex
      .map { case ((_, n), i) => (i + 1L, n) }
    val model = ranked.groupBy { case (r, _) => 63 - java.lang.Long.numberOfLeadingZeros(r) }
      .map { case (b, xs) => b.toLong -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val got = TextOps.textZipfFit(spark, sfMid)
      .select("bucket", "rank_lo", "n_words", "occ_mass", "mean_occ_milli", "decay_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(got.map(g => g._1 -> ((g._3, g._4))).toMap == model,
      "bucket table diverges from the in-memory rank fold")
    // every bucket except possibly the last is full: n_words = 2^b
    got.dropRight(1).foreach { case (b, lo, nw, _, _, _) =>
      assert(lo == (1L << b) && nw == lo, s"bucket $b not full")
    }
    // conservation: occurrence mass = corpus token count
    assert(got.map(_._4).sum == counts.map(_._2).sum, "token mass lost")
    // decay identity vs the previous bucket
    got.sliding(2).foreach {
      case Array(p, c) =>
        val want = (BigInt(c._4) * p._3 * 1000000) / (BigInt(p._4) * c._3)
        assert(c._6.contains(want.toLong), s"bucket ${c._1} decay_ppm")
      case _ =>
    }
    assert(got.head._6.isEmpty, "bucket 0 must have no decay")
  }

  test("split_temporal: span cut, partition identities, warm-user accounting") {
    import graft.operators.Curate
    val got = Curate.splitTemporal(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("train", "val"))
    // replay from the raw events
    val evs = graft.sources.Tables.load(spark, sfMid, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
      .as[(Long, Long)].collect()
    val (d0, d1) = (evs.map(_._2).min, evs.map(_._2).max)
    val cut = d0 + 4 * (d1 - d0 + 1) / 5
    def side(p: ((Long, Long)) => Boolean) = evs.filter(p)
    val tr = side(_._2 < cut); val va = side(_._2 >= cut)
    assert(got("train")._2 == tr.length.toLong && got("val")._2 == va.length.toLong,
      "split event counts")
    assert(got("train")._3 == tr.map(_._2).distinct.length.toLong &&
      got("val")._3 == va.map(_._2).distinct.length.toLong, "split day counts")
    assert(got("train")._4 == tr.map(_._1).distinct.length.toLong &&
      got("val")._4 == va.map(_._1).distinct.length.toLong, "split user counts")
    // warm-user contamination: users on both sides + their val events
    val seen = tr.map(_._1).toSet
    val overlap = va.map(_._1).distinct.count(seen.contains).toLong
    val seenEv = va.count(e => seen.contains(e._1)).toLong
    got.values.foreach { r =>
      assert(r._5 == overlap && r._6 == seenEv, "warm-user columns")
      assert(r._7 == 1000000L * seenEv / math.max(va.length.toLong, 1L), "seen_ppm")
    }
  }

  test("split_temporal_cold: exact arithmetic ties to split_temporal's contamination ledger") {
    import graft.operators.Curate
    val st = Curate.splitTemporal(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val cold = Curate.splitTemporalCold(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // the 3-row domain is pinned even when a side is empty
    assert(cold.keySet == Set("train", "val_cold", "val_warm"))
    // train side is split_temporal's train row verbatim
    assert((cold("train")._2, cold("train")._3, cold("train")._4) ==
      ((st("train")._2, st("train")._3, st("train")._4)), "train sizes")
    // warm = the contamination split_temporal measures: users_overlap
    // users carrying val_events_seen events
    assert(cold("val_warm")._4 == st("train")._5, "warm users == users_overlap")
    assert(cold("val_warm")._2 == st("train")._6, "warm events == val_events_seen")
    // cold = exactly what remains of the val side
    assert(cold("val_cold")._2 == st("val")._2 - st("train")._6,
      "cold events == val total - seen")
    assert(cold("val_cold")._4 == st("val")._4 - st("train")._5,
      "cold users == val users - overlap")
    // the rate gap is the two rows' per-user rates differenced, and is
    // constant across rows
    val w = cold("val_warm")._5; val c = cold("val_cold")._5
    cold.values.foreach(r => assert(r._6 == w - c, "rate_gap_x1e6"))
    // per-user rate identity on each row
    cold.values.foreach(r =>
      assert(r._5 == 1000000L * r._2 / math.max(r._4, 1L), "ev_per_user_x1e6"))
    // and on this corpus the contamination is TOTAL: seen_ppm = 1e6 ==>
    // the honest cold-start eval set is EMPTY — the row says so
    if (st("train")._7 == 1000000L && st("val")._2 == st("train")._6)
      assert(cold("val_cold")._2 == 0L && cold("val_cold")._4 == 0L,
        "cold row must be all-zero when contamination is total")
  }

  test("sample_neyman: moment replay, exact budgets, and the optimality direction") {
    import graft.operators.Curate
    val got = Curate.sampleNeyman(spark, sfMid)
      .select("source", "n_docs", "s_len", "alloc_neyman", "alloc_prop",
        "var_neyman_total", "var_prop_total", "gain_ppm")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // moments and std replayed from the raw column
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select(col("source"), col("n_chars").cast("long"))
      .as[(String, Long)].collect()
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    got.foreach { case (src, n, sLen, _, _, _, _, _) =>
      val ys = bySrc(src)
      assert(n == ys.length.toLong, s"$src n_docs")
      val s1 = ys.map(BigInt(_)).sum; val s2 = ys.map(y => BigInt(y) * y).sum
      val varU = if (n < 2) BigInt(0) else (n * s2 - s1 * s1) / (n * (n - 1))
      assert(BigInt(sLen) * sLen <= varU &&
        (BigInt(sLen) + 1) * (BigInt(sLen) + 1) > varU, s"$src isqrt std")
    }
    // both apportionments fill the 500-seat budget exactly (Hamilton)
    assert(got.map(_._4).sum == 500L, "Neyman seats must sum to the budget")
    assert(got.map(_._5).sum == 500L, "proportional seats must sum to the budget")
    // Neyman is the variance-optimal allocation: its total can't lose
    // (floor rounding can only perturb within a seat, and gain >= 0
    // holds on this corpus — the design's whole point)
    val (vn, vp, gain) = (got.head._6, got.head._7, got.head._8)
    assert(got.forall(r => r._6 == vn && r._7 == vp), "totals must be constant")
    assert(vn <= vp, "Neyman total variance must not exceed proportional")
    assert(gain == 1000000L * (vp - vn) / vp, "gain_ppm identity")
  }

  test("sample_quota: largest-remainder apportionment fills the budget exactly") {
    import graft.operators.Curate
    val rows = Curate.sampleQuota(spark, sfMid)
      .select("source", "doc_id", "sample_rank", "quota")
      .as[(String, Long, Long, Long)].collect()
    // the budget is met exactly when no per-source cap binds (every
    // source here holds more docs than its quota)
    assert(rows.length == 100, s"selected ${rows.length}, budget 100")
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val q = rs.head._4
      assert(rs.forall(_._4 == q), s"$src: quota not constant")
      assert(rs.length == q, s"$src: selected ${rs.length} of quota $q")
      assert(rs.map(_._3).sorted.toSeq == (1L to q), s"$src: ranks not dense")
    }
    // Hamilton guarantee: each quota is within one seat of the exact
    // proportional share N*w
    val mix = Curate.corpusMixture(spark, sfMid)
      .select("source", "weight_ppm").as[(String, Long)].collect().toMap
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val exact = 100.0 * mix(src) / 1e6
      assert(math.abs(rs.head._4 - exact) < 1.0,
        s"$src: quota ${rs.head._4} more than a seat from share $exact")
    }
    // when the budget exceeds the corpus, the caps bind and quota
    // sampling degrades to taking everything
    val dir = java.nio.file.Files.createTempDirectory("graft-quota").toString
    try {
      docsDf(Seq((1L, "alpha beta gamma", "en"), (2L, "delta epsilon", "en"),
        (3L, "zeta eta theta iota", "en")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val small = Curate.sampleQuota(spark, dir).collect()
      assert(small.length == 3,
        s"capped quotas should select all 3 docs, got ${small.length}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("text normalize is idempotent and accounts removed chars") {
    import graft.operators.Curate
    val out = Curate.textNormalize(spark, sf)
      .select("norm_text", "n_removed").as[(String, Long)].collect()
    out.foreach { case (t, removed) =>
      assert(removed >= 0)
      assert(t == t.trim.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " "))
    }
  }

  test("corpus_mixture ppm weights normalize and upweight small sources") {
    val rows = Curate.corpusMixture(spark, sf)
      .select("source", "n_docs", "tok_sum", "weight_ppm", "alloc_tokens", "alloc_docs")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val wSum = rows.map(_._4).sum
    assert(math.abs(wSum - 1000000L) <= rows.length,
      s"weights sum to $wSum ppm — not a distribution")
    // sqrt temperature: weight per token strictly favors smaller sources
    // (cross-multiplied in exact integers, ±1ppm rounding slack per side)
    for (a <- rows; b <- rows if a._3 < b._3) {
      assert(a._4 <= b._4 + 1, s"${a._1} smaller than ${b._1} but heavier weight")
      assert(a._4 * b._3 + (a._3 + b._3) >= b._4 * a._3,
        s"${a._1} not upweighted per-token vs ${b._1}")
    }
    rows.foreach { case (src, nDocs, tok, w, allocT, allocD) =>
      assert(allocT == w * 10, s"$src alloc_tokens != ppm share of 10M budget")
      assert(allocD == (w * 10 * nDocs) / tok, s"$src alloc_docs mismatch")
    }
  }

  test("text_boilerplate matches a recomputed trigram doc-frequency model") {
    val dir = sfMid // sf0.001 has no >=5-doc trigram
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val texts = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def hash(g: String): Long =
      g.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)
    def grams(t: String): Seq[Long] = {
      val ws = t.split(" ", -1)
      val set = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i + 2 < ws.length) { set += (ws(i) + " " + ws(i + 1) + " " + ws(i + 2)); i += 1 }
      set.toSeq.map(hash)
    }
    val perDoc = texts.map { case (id, t) => id -> grams(t) }.toMap
    val df = perDoc.values.flatten.groupBy(identity).map { case (h, o) => h -> o.size.toLong }
    val thresh = math.max(5L, texts.length / 100L)
    val boiler = df.filter(_._2 >= thresh).keySet
    assert(boiler.nonEmpty, "test corpus has no boilerplate grams — threshold too high")
    val got = TextOps.textBoilerplate(spark, dir)
      .select("doc_id", "n_grams", "n_boiler", "boiler_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == texts.length)
    got.foreach { case (id, nG, nB, ppm) =>
      val gs = perDoc(id)
      assert(nG == gs.length, s"doc $id n_grams")
      assert(nB == gs.count(boiler), s"doc $id n_boiler")
      assert(ppm == (if (nG == 0) 0L else nB * 1000000L / nG), s"doc $id ppm")
    }
  }

  test("dedup_threshold_curve is monotone and agrees with the pair query at 0.3") {
    val curve = Dedup.dedupThresholdCurve(spark, sfMid)
      .select("threshold_pct", "n_pairs", "n_docs_dropped")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.nonEmpty && curve.head._1 == 30L)
    curve.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3,
          s"curve must be non-increasing: $lo vs $hi")
      case _ =>
    }
    val pairs = Dedup.dedupNgramJaccard(spark, sfMid)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(curve.head._2 == pairs.length, "0.3 cutoff must equal the pair query")
    assert(curve.head._3 == pairs.map(_._2).distinct.length)
    // cross-check one interior cutoff against a float recompute
    val at50 = curve.find(_._1 == 50L).map(_._2).getOrElse(0L)
    assert(at50 == pairs.count(_._3 >= 0.5), "0.5 cutoff mismatch")
  }

  test("dedup_edit_distance verifies exactly the candidate pairs with true Levenshtein") {
    val pairs = Dedup.dedupNgramJaccard(spark, sfMid)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val got = Dedup.dedupEditDistance(spark, sfMid)
      .select("doc_a", "doc_b", "edit_dist", "max_len", "edit_sim_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == pairs,
      "edit verify must cover exactly the candidate set")
    // reference Levenshtein over the same normalized texts
    val norm = graft.sources.Tables.load(spark, sfMid, "documents")
      .select(col("doc_id"), regexp_replace(trim(col("text")), " +", " "))
      .as[(Long, String)].collect().toMap
    def lev(a: String, b: String): Long = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val t = prev(j)
          prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = t
        }
      }
      prev(b.length).toLong
    }
    got.foreach { case (a, b, d, m, ppm) =>
      assert(m == math.max(norm(a).length, norm(b).length).toLong)
      assert(d == lev(norm(a), norm(b)), s"($a,$b) edit distance drifted")
      assert(ppm == (m - d) * 1000000L / m)
      assert(d <= m, s"($a,$b) distance exceeds longer length")
    }
  }

  test("vocab_build ids are dense, frequency-ranked, coverage sums to 1e6") {
    val v = TextOps.vocabBuild(spark, sf)
      .select("vocab_id", "token", "n_occ", "cum_ppm")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(v.map(_._1).toSeq == (256L until 256L + v.length).toSeq, "ids not dense from 256")
    v.sliding(2).foreach {
      case Array(a, b) => assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
        s"rank order broken at ${a._2}/${b._2}")
      case _ =>
    }
    assert(v.last._4 == 1000000L, "full vocabulary must cover the corpus")
    val totalTokens = graft.sources.Tables.load(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long")).as[Long].collect().sum
    assert(v.map(_._3).sum == totalTokens)
  }

  test("tokenize_ids round-trips: decoding ids reproduces the original text") {
    val id2tok = TextOps.vocabBuild(spark, sf)
      .select("vocab_id", "token").as[(Long, String)].collect().toMap
    val encoded = TextOps.tokenizeIds(spark, sf)
      .select("doc_id", "pos", "vid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (d, rs) =>
        d -> rs.sortBy(_._2).map(r => id2tok(r._3)).mkString(" ")
      }
    val originals = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(encoded.keySet == originals.keySet)
    encoded.foreach { case (d, txt) => assert(txt == originals(d), s"doc $d decode") }
  }

  test("quality_classifier logit matches a direct per-doc recompute") {
    val got = TextOps.qualityClassifier(spark, sf)
      .select("doc_id", "logit_micro", "keep").as[(Long, Long, Long)].collect()
      .map { case (d, lm, k) => d -> ((lm, k)) }.toMap
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect()
    val stops = TextOps.stopwords.toSet
    docs.foreach { case (id, text, nChars) =>
      val ws = text.split(" ", -1)
      val stopR = ws.count(stops) * 1.0 / ws.length
      val punctR = text.count(c => !(c.isDigit || c == ' ' || (c >= 'a' && c <= 'z'))) * 1.0 / nChars
      val lenSat = math.min(1.0, ws.length / 64.0)
      val logit = -2.0 + stopR * 4.0 - punctR * 8.0 + lenSat * 2.0
      val (lm, keep) = got(id)
      assert(lm == math.floor(logit * 1e6 + 0.5).toLong, s"doc $id logit")
      assert(keep == (if (logit > 0) 1L else 0L))
    }
  }

  test("quality_vote ledger equals the composition of the four registered gates") {
    val gate = TextOps.textQuality(spark, sf)
      .select(col("doc_id"), (col("quality_score") >= 0.5).cast("long"))
      .as[(Long, Long)].collect().toMap
    val clf = TextOps.qualityClassifier(spark, sf)
      .select("doc_id", "keep").as[(Long, Long)].collect().toMap
    val lang = TextOps.textLangid(spark, sf)
      .select(col("doc_id"), col("label_match").cast("long"))
      .as[(Long, Long)].collect().toMap
    val rep = TextOps.textRepetition(spark, sf)
      .select("doc_id", "n_shingles", "n_distinct").as[(Long, Long, Long)].collect()
      .map { case (d, ns, nd) => d -> (if (5 * (ns - nd) <= ns) 1L else 0L) }.toMap
    val nTotal = gate.size.toLong
    val expected = gate.keys.toSeq
      .map(d => (gate(d), clf(d), lang(d), rep(d)))
      .groupBy(identity).map { case (p, hits) =>
        (p._1, p._2, p._3, p._4, hits.size.toLong,
          1000000L * hits.size / nTotal,
          if (p._1 + p._2 + p._3 + p._4 >= 3) 1L else 0L)
      }.toSet
    val got = TextOps.qualityVote(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected,
      "vote ledger diverged from the registered faces' composition")
    // the patterns partition the corpus exactly
    assert(got.map(_._5).sum == nTotal)
    // non-vacuous: the ensemble must actually disagree somewhere, else
    // the review queue this face exists for is empty by construction
    assert(got.exists(r => Seq(r._1, r._2, r._3, r._4).distinct.size > 1),
      "all four gates agree on every doc — vacuous ensemble")
  }

  test("pipeline_eval_build manifest equals the composition of its stage faces") {
    val split = Curate.splitDedupAware(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val gate = TextOps.textQuality(spark, sf)
      .select(col("doc_id"), col("quality_score") >= 0.5)
      .as[(Long, Boolean)].collect().toMap
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "n_chars", "text")
      .as[(Long, String, Long, String)].collect()
    def shingles(t: String): Set[Long] = {
      val ws = t.split(" ", -1)
      (0 until math.max(ws.length - 6, 0))
        .map(i => graft.functions.MinHashKernel.polyHash(
          ws.slice(i, i + 7).mkString(" "))).toSet
    }
    val trainHg = docs.filter(d => split(d._1) == "train")
      .flatMap(d => shingles(d._4)).toSet
    val contam = docs.filter(d => split(d._1) == "val")
      .filter(d => shingles(d._4).exists(trainHg)).map(_._1).toSet
    val perSource = docs.filter(d => split(d._1) == "val").groupBy(_._2).toSeq
      .map { case (src, ds) =>
        val fin = ds.filter(d => gate(d._1) && !contam(d._1))
        (src, ds.length.toLong,
          ds.count(d => !gate(d._1)).toLong,
          ds.count(d => gate(d._1) && contam(d._1)).toLong,
          fin.length.toLong, fin.map(_._3).sum)
      }
    val totChars = perSource.map(_._6).sum
    val expected = perSource.map { t =>
      (t._1, t._2, t._3, t._4, t._5, t._6,
        if (totChars == 0) 0L else 1000000L * t._6 / totChars)
    }.toSet
    val got = Curate.pipelineEvalBuild(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected,
      "eval manifest diverged from the composed stage replay")
    // marginal accounting: every val doc lands in exactly one column
    got.foreach(r => assert(r._2 == r._3 + r._4 + r._5,
      s"${r._1}: stage accounting leak"))
    assert(got.map(_._5).sum > 0, "empty eval set — vacuous")
  }

  test("text_ccnet_buckets: in-memory LM replay, tercile band monotonicity") {
    val gateIds = TextOps.textQuality(spark, sf)
      .filter(col("quality_score") >= 0.5)
      .select("doc_id").as[Long].collect().toSet
    val allDocs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val refCnt = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    allDocs.filter(d => gateIds(d._1))
      .foreach(_._3.split(" ", -1).foreach(w => refCnt(w) += 1))
    val t = refCnt.values.sum
    def blen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val perDoc = allDocs.map { case (id, lang, txt) =>
      val ws = txt.split(" ", -1)
      val bits = ws.map(w =>
        if (refCnt(w) == 0L) blen(t) else blen(t) - blen(refCnt(w))).sum
      (id, lang, ws.length.toLong, bits * 1000 / ws.length)
    }
    val dealt = perDoc.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      val sorted = rows.sortBy(r => (r._4, r._1))
      val n = sorted.length.toLong
      sorted.zipWithIndex.map { case (r, i) =>
        val pos = i + 1L
        val nmod = n % 3; val up = n / 3 + 1
        val bucket =
          if (pos <= nmod * up) (pos - 1) / up + 1
          else nmod + (pos - nmod * up - 1) / (n / 3) + 1
        (lang, bucket, r._3, r._4)
      }
    }
    val expected = dealt.groupBy(x => (x._1, x._2)).map { case ((lang, b), rows) =>
      (lang, b, rows.size.toLong, rows.map(_._3).sum,
        rows.map(_._4).min, rows.map(_._4).max)
    }.toSet
    val got = TextOps.textCcnetBuckets(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "bucket table diverged from the LM replay")
    // the terciles slice the bits/token axis: head max <= middle min <= ...
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case (lo, hi) =>
        assert(lo._6 <= hi._5, s"band overlap: $lo vs $hi")
      }
    }
    assert(got.map(_._1).toSet.size >= 3, "too few languages — vacuous")
  }

  test("sample_dsir: in-memory weight replay, exact global 40% cut") {
    val gateIds = TextOps.textQuality(spark, sf)
      .filter(col("quality_score") >= 0.5)
      .select("doc_id").as[Long].collect().toSet
    val allDocs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def ph(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L) % 128L
    def blen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val rc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val tc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    allDocs.foreach { case (id, _, txt) =>
      txt.split(" ", -1).foreach { w =>
        val b = ph("dsir|" + w)
        rc(b) += 1
        if (gateIds(id)) tc(b) += 1
      }
    }
    val (tr, ttot) = (rc.values.sum, tc.values.sum)
    def contrib(b: Long): Long =
      (blen(tr + 128) - blen(rc(b) + 1)) - (blen(ttot + 128) - blen(tc(b) + 1))
    val perDoc = allDocs.map { case (id, src, txt) =>
      (id, src, txt.split(" ", -1).map(w => contrib(ph("dsir|" + w))).sum)
    }
    val n = perDoc.length.toLong
    val ranked = perDoc.sortBy(r => (-r._3, r._1)).zipWithIndex
      .map { case ((id, src, w), i) => (id, src, w, (i + 1L) * 5 <= n * 2) }
    val expected = ranked.groupBy(_._2).map { case (src, rows) =>
      val sel = rows.filter(_._4)
      (src, rows.length.toLong, sel.length.toLong,
        1000000L * sel.length / rows.length, sel.map(_._3).sum)
    }.toSet
    val got = Curate.sampleDsir(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "DSIR ledger diverged from the replay")
    // the cut is exact: selected count across sources == (2n) div 5
    assert(got.map(_._3).sum == 2 * n / 5, "global cut not exact")
    assert(got.map(_._3).sum > 0, "nothing selected — vacuous")
  }

  test("tokenize_fertility: rollup replay from segment faces, compare identity") {
    val wl = graft.sources.Tables.load(spark, sf, "documents")
      .select("lang", "text").as[(String, String)].collect()
      .flatMap { case (lang, txt) => txt.split(" ", -1).map(w => (lang, w)) }
      .groupBy(identity).map { case ((lang, w), hits) => (lang, w, hits.length.toLong) }
    val seg =
      TextOps.tokenizeBpeSegments(spark, sf)
        .select(lit("bpe").as("f"), col("word"), col("n_syms").cast("long"))
        .as[(String, String, Long)].collect() ++
      TextOps.tokenizeWordpiece(spark, sf)
        .select(lit("wordpiece").as("f"), col("word"), col("n_pieces").cast("long"))
        .as[(String, String, Long)].collect() ++
      TextOps.tokenizeUnigramSegments(spark, sf)
        .select(lit("unigram").as("f"), col("word"), col("n_pieces").cast("long"))
        .as[(String, String, Long)].collect()
    val pieces = seg.groupBy(_._2).map { case (w, rows) =>
      w -> rows.map(r => (r._1, r._3)).toMap
    }
    val expected = wl.toSeq
      .flatMap { case (lang, w, n) =>
        pieces.getOrElse(w, Map.empty).toSeq.map { case (f, np) =>
          (f, lang, w, n, n * np, n * w.length)
        }
      }
      .groupBy(x => (x._1, x._2)).map { case ((f, lang), rows) =>
        val (cw, cp, cc) =
          (rows.map(_._4).sum, rows.map(_._5).sum, rows.map(_._6).sum)
        (f, lang, rows.map(_._3).distinct.size.toLong, cw, cp,
          1000 * cp / cw, 1000 * cc / cp)
      }.toSet
    val got = TextOps.tokenizeFertility(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "fertility table diverged from the replay")
    // cross-face identity: per family, sum of per-lang piece mass equals
    // tokenize_compare's corpus_subwords
    val cmp = TextOps.tokenizeCompare(spark, sf)
      .select("family", "corpus_subwords").as[(String, Long)].collect().toMap
    got.groupBy(_._1).foreach { case (f, rows) =>
      assert(rows.map(_._5).sum == cmp(f), s"piece mass mismatch for $f")
    }
  }

  test("tokenize_roundtrip: every family decodes losslessly, totals tie to fertility") {
    val got = TextOps.tokenizeRoundtrip(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).sorted.toSeq == Seq("bpe", "unigram", "wordpiece"))
    got.foreach { r =>
      assert(r._6 == 0L, s"${r._1}: lossless contract broken (${r._6} mismatches)")
      assert(r._2 == r._4 && r._3 == r._5,
        s"${r._1}: exact counts must equal totals under the zero-mismatch pin")
      assert(r._2 > 0 && r._3 > r._2, "vacuous corpus")
    }
    // the three families segment the same vocabulary
    assert(got.map(_._2).distinct.length == 1, "family vocab inventories diverged")
    assert(got.map(_._3).distinct.length == 1, "family corpus masses diverged")
  }

  test("sample_reservoir_merge: merged per-half reservoirs equal the direct sample") {
    val merged = Curate.sampleReservoirMerge(spark, sf)
      .select("doc_id", "priority", "sample_rank")
      .as[(Long, Long, Long)].collect()
    val direct = Curate.sampleWeightedK(spark, sf)
      .select("doc_id", "priority", "sample_rank")
      .as[(Long, Long, Long)].collect()
    assert(merged.length == direct.length, "sample sizes differ")
    assert(merged.map(r => (r._1, r._2, r._3)).toSet ==
      direct.map(r => (r._1, r._2, r._3)).toSet,
      "the mergeable identity top-K(A∪B) ≡ top-K(top-K(A)∪top-K(B)) broke")
    // both halves must actually contribute (decorrelated hash priorities)
    val halves = Curate.sampleReservoirMerge(spark, sf)
      .select("half").as[Long].collect().toSet
    assert(halves == Set(0L, 1L), "one half never surfaced — vacuous merge")
  }

  test("graph_degree_hist: exact degree replay from the pair face") {
    val pairs = Dedup.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val deg = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    pairs.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    def blen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val n = deg.size.toLong
    val expected = deg.toSeq.groupBy { case (_, d) => blen(d) }
      .map { case (b, rows) =>
        (b, rows.size.toLong, rows.map(_._2).sum, rows.map(_._2).max,
          1000000L * rows.size / n)
      }.toSet
    val got = Dedup.graphDegreeHist(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "histogram diverged from the pair replay")
    // handshake identity: endpoint mass = 2 |E|
    assert(got.map(_._3).sum == 2L * pairs.length, "handshake lemma broke")
  }

  test("ml_learning_curve: full in-memory stump replay per training fraction") {
    val rows = graft.sources.Tables.load(spark, sf, "documents")
      .select("text", "n_chars").as[(String, Long)].collect()
    def ph(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L) % 8L
    case class D(hb: Long, stopM: Long, punctM: Long, lenM: Long, pass: Long)
    val stops = TextOps.stopwords.toSet
    val ds = rows.map { case (txt, nChars) =>
      val ws = txt.split(" ", -1)
      val nTok = ws.length.toLong
      val nStop = ws.count(stops).toLong
      val nPunct = txt.count(c => !(c.isDigit || (c >= 'a' && c <= 'z') || c == ' ')).toLong
      val q = (1.0 - nStop.toDouble / nTok) * (1.0 - nPunct.toDouble / nChars) *
        math.min(1.0, nTok / 64.0)
      D(ph("lc|" + txt), nStop * 1000 / nTok, nPunct * 1000 / nChars,
        math.min(1000L, nTok * 1000 / 64), if (q >= 0.5) 1L else 0L)
    }
    def buckets(d: D): Seq[(String, Long)] = Seq(
      ("len_sat", math.min(9L, d.lenM / 100)),
      ("punct_ratio", math.min(9L, d.punctM / 100)),
      ("stopword_ratio", math.min(9L, d.stopM / 100)))
    def gini(n: Long, p: Long): BigInt =
      BigInt(1000000) - (BigInt(p) * p + BigInt(n - p) * (n - p)) * 1000000 / (BigInt(n) * n)
    val evalDocs = ds.filter(_.hb == 7)
    val expected = Seq(1L, 2L, 4L, 7L).map { k =>
      val tr = ds.filter(_.hb < k)
      val cand = for {
        f <- Seq("len_sat", "punct_ratio", "stopword_ratio")
        t <- 1L to 9L
        left = tr.filter(d => buckets(d).toMap.apply(f) < t)
        if left.nonEmpty && left.length < tr.length
      } yield {
        val right = tr.length - left.length
        val lp = left.map(_.pass).sum; val ln = left.length.toLong
        val rp = tr.map(_.pass).sum - lp; val rn = right.toLong
        val wimp = ((BigInt(ln) * gini(ln, lp) + BigInt(rn) * gini(rn, rp)) / tr.length).toLong
        (wimp, f, t, ln, lp, rn, rp)
      }
      val (wimp, f, t, ln, lp, rn, rp) = cand.minBy(c => (c._1, c._2, c._3))
      val leftKeep = if (lp * 2 >= ln) 1L else 0L
      val rightKeep = if (rp * 2 >= rn) 1L else 0L
      val matches = evalDocs.map { d =>
        val b = buckets(d).toMap.apply(f)
        val pred = if (b < t) leftKeep else rightKeep
        if (pred == d.pass) 1L else 0L
      }.sum
      (k, tr.length.toLong, evalDocs.length.toLong, f, t * 100, wimp,
        1000000L * matches / evalDocs.length)
    }.toSet
    val got = TextOps.mlLearningCurve(spark, sf)
      .as[(Long, Long, Long, String, Long, Long, Long)].collect()
    assert(got.toSet == expected, "learning curve diverged from the replay")
    assert(got.map(_._2).toSeq.sorted.sliding(2).forall {
      case Seq(a, b) => a < b
      case _ => true
    }, "training sizes must strictly grow")
  }

  test("pack_window_curve: exact offset replay, splits shrink as windows grow") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, t) => (id, t.split(" ", -1).length.toLong) }
    var off = 0L
    val withOff = docs.map { case (id, n) => val o = off; off += n; (id, n, o) }
    val total = off
    val expected = Seq(512L, 2048L, 8192L).map { w =>
      val cross = withOff.map { case (_, n, o) => (o + n - 1) / w - o / w }
      (w, docs.length.toLong, total, (total + w - 1) / w,
        cross.count(_ > 0).toLong,
        1000000L * cross.count(_ > 0) / docs.length, cross.sum)
    }.toSet
    val got = Curate.packWindowCurve(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "curve diverged from the offset replay")
    // monotone tradeoff: larger windows shred strictly fewer docs (at
    // these SFs every smaller window splits at least one more doc)
    val byW = got.sortBy(_._1)
    byW.zip(byW.tail).foreach { case (small, big) =>
      assert(small._5 >= big._5, "splits must not grow with window size")
      assert(small._7 >= big._7, "crossings must not grow with window size")
    }
    assert(byW.head._5 > 0, "no splits at the smallest window — vacuous")
  }

  test("corpus_datasheet ties every column to the registered faces") {
    val got = Curate.corpusDatasheet(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // volume columns == corpus_stats
    val stats = Curate.corpusStats(spark, sf)
      .select("source", "n_docs", "total_tokens", "total_chars", "n_langs")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet == stats,
      "volume columns drifted from corpus_stats")
    // gate rate == textQuality composition per source
    val srcOf = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val passBySrc = TextOps.textQuality(spark, sf)
      .select("doc_id", "quality_score").as[(Long, Double)].collect()
      .groupBy(r => srcOf(r._1))
      .map { case (src, rows) => src -> rows.count(_._2 >= 0.5).toLong }
    // dup exposure == the jaccard pair face's endpoint set per source
    val exposed = Dedup.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    val dupBySrc = exposed.groupBy(srcOf).map { case (s0, ids) => s0 -> ids.size.toLong }
    got.foreach { r =>
      assert(r._6 == 1000000L * passBySrc.getOrElse(r._1, 0L) / r._2,
        s"gate rate drifted for ${r._1}")
      assert(r._7 == 1000000L * dupBySrc.getOrElse(r._1, 0L) / r._2,
        s"dup exposure drifted for ${r._1}")
    }
    assert(got.exists(_._7 > 0), "no near-dup exposure anywhere — vacuous")
  }

  test("ml_model_card quotes its four registered faces exactly") {
    val card = TextOps.mlModelCard(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(card.length == 1, "the card is one row")
    val (nPos, nNeg, auc, f1, f1b, sep, acc) = card.head
    val aucRow = TextOps.mlAuc(spark, sf)
      .select("n_pos", "n_neg", "auc_ppm").as[(Long, Long, Long)].collect().head
    assert((nPos, nNeg, auc) == aucRow, "AUC columns drifted")
    val pr = TextOps.mlPrCurve(spark, sf)
      .select("thr_bucket", "f1_ppm").as[(Long, Long)].collect()
    val best = pr.sortBy(r => (-r._2, r._1)).head
    assert((f1b, f1) == best, "peak operating point drifted")
    val cal = TextOps.mlCalibration(spark, sf)
      .select("pass_ppm").as[Long].collect()
    assert(sep == cal.max - cal.min, "calibration separation drifted")
    val lc = TextOps.mlLearningCurve(spark, sf)
      .filter(col("train_buckets") === 7)
      .select("eval_acc_ppm").as[Long].collect().head
    assert(acc == lc, "holdout accuracy drifted")
    assert(auc > 500000, "classifier worse than chance — vacuous corpus")
  }

  test("corpus_length_histogram: exact bit-bucket replay, shares partition each source") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("source", "text").as[(String, String)].collect()
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val expected = docs
      .map { case (src, t) => (src, t.split(" ", -1).length.toLong) }
      .groupBy { case (src, n) => (src, bits(n)) }
      .map { case ((src, b), hits) => (src, b, hits.length.toLong, hits.map(_._2).sum) }
      .groupBy(_._1).flatMap { case (_, rows) =>
        val (sd, st) = (rows.map(_._3).sum, rows.map(_._4).sum)
        rows.map(r => (r._1, r._2, r._3, r._4,
          1000000L * r._3 / sd, 1000000L * r._4 / st))
      }.toSet
    val got = Curate.corpusLengthHistogram(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected, "histogram diverged from the bit replay")
    // shares partition: per source they sum to 1e6 up to floor loss
    got.groupBy(_._1).values.foreach { rows =>
      Seq(rows.map(_._5).sum, rows.map(_._6).sum).foreach { s0 =>
        assert(s0 <= 1000000L && s0 > 1000000L - rows.length, s"share sum $s0")
      }
    }
  }

  test("pipeline_incremental_build ledger equals the composition of its stage faces") {
    val gate = TextOps.textQuality(spark, sf)
      .select(col("doc_id"), col("quality_score") >= 0.5)
      .as[(Long, Boolean)].collect().toMap
    val dups = Dedup.dedupIncremental(spark, sf)
      .select("new_id").as[Long].collect().toSet
    val segs = TextOps.tokenizeBpeSegments(spark, sf)
      .select("word", "n_syms").as[(String, Long)].collect().toMap
    val delta = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("source") === "src1")
      .select("doc_id", "lang", "n_chars", "text")
      .as[(Long, String, Long, String)].collect()
    assume(delta.nonEmpty, "no delta batch — vacuous")
    def massOf(t: String): Long =
      t.split(" ", -1).filter(_.nonEmpty).flatMap(segs.get).sum
    val expected = delta.groupBy(_._2).map { case (lang, ds) =>
      val adm = ds.filter(d => gate(d._1) && !dups(d._1))
      (lang, ds.length.toLong,
        ds.count(d => !gate(d._1)).toLong,
        ds.count(d => gate(d._1) && dups(d._1)).toLong,
        adm.length.toLong,
        adm.map(d => massOf(d._4)).sum,
        adm.map(_._3).sum)
    }.toSet
    val got = Curate.pipelineIncrementalBuild(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSet == expected,
      "incremental ledger diverged from the composed stage replay")
    // marginal accounting: every delta doc lands in exactly one column
    got.foreach(r => assert(r._2 == r._3 + r._4 + r._5,
      s"${r._1}: stage accounting leak"))
    assert(got.map(_._5).sum > 0, "nothing admitted — vacuous")
  }

  test("pipeline_eval_build stage 3 fires on a planted sub-0.3 quote pair") {
    // a train doc and a val doc share ONE 7-word span (a quote) but sit
    // far below the 0.3 near-dup cut, so stage 1 cannot route them to
    // one side — exactly the residual leakage stage 3 exists to catch
    def bucketOf(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L) % 100
    val span = "alpha bravo charlie delta echo foxtrot golf"
    def mk(prefix: String, wantTrain: Boolean, withSpan: Boolean): String = {
      val base = (1 to 40).map(i => s"$prefix$i") ++
        (if (withSpan) span.split(" ").toSeq else Seq.empty)
      (0 to 200).iterator
        .map(k => (base ++ Seq(s"${prefix}salt$k")).mkString(" "))
        .find(t => (bucketOf(t) < 90) == wantTrain)
        .getOrElse(fail(s"no $prefix candidate found in 200 salts"))
    }
    val trainDoc = mk("tr", wantTrain = true, withSpan = true)
    val valDoc = mk("vl", wantTrain = false, withSpan = true)
    val ctrlDoc = mk("ct", wantTrain = false, withSpan = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-evalbuild").toString
    try {
      Seq((1L, trainDoc), (2L, valDoc), (3L, ctrlDoc)).map { case (id, t) =>
        (id, t, "en", "s0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val row = Curate.pipelineEvalBuild(spark, dir)
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      assert(row.length == 1 && row.head._1 == "s0")
      val (_, nVal, nGateFail, nContam, nFinal, _, _) = row.head
      assert(nVal == 2L, s"expected the two val-side docs, got $nVal")
      assert(nGateFail == 0L, "fixture docs must pass the quality gate")
      assert(nContam == 1L, "the planted quote pair did not fire stage 3")
      assert(nFinal == 1L, "the control val doc must survive")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("sample_importance thins by quality with exact inverse-propensity weights") {
    val kept = Curate.sampleImportance(spark, sfMid)
      .select("doc_id", "n_tokens", "accept_ppm", "ipw_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(kept.nonEmpty)
    kept.foreach { case (id, tok, app, ipw) =>
      assert(app == 200000L + 800000L * math.min(tok, 64) / 64, s"doc $id rate")
      assert(ipw == 1000000000000L / app, s"doc $id weight")
    }
    // the long-doc stratum must survive at a visibly higher rate than
    // the accepted-fraction floor: full-length docs accept at 100%
    val total = graft.sources.Tables.load(spark, sfMid, "documents").count()
    assert(kept.length < total, "sampling must actually thin")
    val fullRate = kept.count(_._2 >= 64)
    val fullTotal = graft.sources.Tables.load(spark, sfMid, "documents")
      .filter(size(split(col("text"), " ")) >= 64).count()
    assert(fullRate == fullTotal, "accept_ppm = 1e6 stratum must keep every doc")
  }

  test("graph_pagerank matches a direct integer recompute of the 6-round recurrence") {
    val dir = sfMid // sf0.001's corpus has too few near-dup pairs
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val pairs = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assume(pairs.nonEmpty, "corpus has no near-dup pairs — vacuous")
    val out = edgesModel(pairs)
    val got = Dedup.graphPagerank(spark, dir)
      .select("doc_id", "rank_pico").as[(Long, Long)].collect().toMap
    assert(got == out, "integer pagerank drifted from the direct model")
    // sanity on the model itself: all ranks positive, total mass close
    // to SCALE (truncation-only loss), max rank on a max-degree node's
    // component is plausible — positivity is the load-bearing check
    assert(out.values.forall(_ > 0))
  }

  test("graph_label_prop matches an in-memory synchronous LPA replay") {
    val dir = sfMid // sf0.001's corpus has too few near-dup pairs
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val pairs = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assume(pairs.nonEmpty, "corpus has no near-dup pairs — vacuous")
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val byNode = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var labels = byNode.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      labels = byNode.map { case (n, nbrs) =>
        val votes = nbrs.groupBy(labels).map { case (l, hits) => (l, hits.length) }
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val sizes = labels.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    val expected = labels.map { case (n, l) => (n, l, sizes(l)) }.toSet
    val got = Dedup.graphLabelProp(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected, "LPA labels drifted from the synchronous model")
    // communities refine reachability: every LPA community must sit
    // inside one connected component (labels can split, never bridge)
    val comp = Dedup.dedupComponents(spark, dir)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    labels.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(comp).toSet.size == 1,
        "an LPA community crossed a connected component")
    }
  }

  test("dedup_minhash_bbit: exact lane replay, estimator staging, pair-set identity") {
    val dir = sfMid
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val P = 2147483647L
    def polyHash(t: String): Long =
      t.foldLeft(0L)((h, c) => (h * 31 + c) % P)
    def shingles(t: String): Seq[Long] = {
      val ws = t.split(" ", -1)
      val set = scala.collection.mutable.LinkedHashSet.empty[String]
      (0 until math.max(ws.length - 2, 0)).foreach(i =>
        set += (ws(i) + " " + ws(i + 1) + " " + ws(i + 2)))
      set.toSeq.map(polyHash)
    }
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val hs = docs.map { case (id, t) => id -> shingles(t) }.toMap
    def lanes(ids: Seq[Long]): Array[Long] =
      (0 until 32).map { j =>
        val a = (1103515245L * (j + 1)) % P
        val b = (12345L * (j + 1) + 987654321L) % P
        ids.map(h => (h * a + b) % P).min
      }.toArray
    val truth = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assume(truth.nonEmpty, "no near-dup pairs — vacuous")
    val got = Dedup.dedupMinhashBbit(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == truth.toSet,
      "bbit ledger must cover exactly the verified pair set")
    val laneMemo = scala.collection.mutable.Map.empty[Long, Array[Long]]
    def lanesOf(id: Long) = laneMemo.getOrElseUpdate(id, lanes(hs(id)))
    got.foreach { case (a, b, jp, af, ef, ab0, eb) =>
      val (sa, sb) = (hs(a).toSet, hs(b).toSet)
      assert(jp == 1000000L * sa.intersect(sb).size / sa.union(sb).size,
        s"pair ($a,$b) jaccard_ppm diverges")
      val (la, lb) = (lanesOf(a), lanesOf(b))
      val afr = (0 until 32).count(j => la(j) == lb(j)).toLong
      val abr = (0 until 32).count(j => la(j) % 2 == lb(j) % 2).toLong
      assert(af == afr && ab0 == abr, s"pair ($a,$b) lane agreements diverge")
      assert(ef == af * 31250L && eb == math.max(0L, (ab0 - 16) * 62500L),
        s"pair ($a,$b) estimator staging diverges")
      // 1-bit agreement can never be below full agreement (equal lanes
      // agree on every bit)
      assert(ab0 >= af, s"pair ($a,$b): bbit agreement below full agreement")
    }
  }

  test("graph_modularity: BigInt ledger replay, degree/edge identities, beats chance") {
    val dir = sfMid
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val edges = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assume(edges.nonEmpty, "corpus has no near-dup pairs — vacuous")
    val labels = Dedup.graphLabelProp(spark, dir)
      .select("doc_id", "label").as[(Long, Long)].collect().toMap
    val m = BigInt(edges.length)
    val intra = edges.filter { case (a, b) => labels(a) == labels(b) }
      .groupBy(e => labels(e._1)).view.mapValues(_.length.toLong).toMap
    val degSum = edges.flatMap { case (a, b) => Seq(labels(a), labels(b)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nNodes = labels.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Dedup.graphModularity(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == labels.values.toSet, "community set drifted")
    got.foreach { case (lbl, nn, ie, ds, me, q) =>
      assert(me == m.toLong)
      assert(nn == nNodes(lbl) && ie == intra.getOrElse(lbl, 0L)
        && ds == degSum.getOrElse(lbl, 0L), s"ledger row $lbl drifted")
      val qr = (BigInt(1000000) * (4 * m * ie - BigInt(ds) * ds)
        + BigInt(1000000) * 4 * m * m) / (4 * m * m) - 1000000
      assert(BigInt(q) == qr, s"community $lbl q_term diverges from the replay")
      assert(q >= -1000000 && q <= 1000000, s"q_term $q outside [-1, 1]")
    }
    // partition identities: degree sums add to 2m, intra edges to <= m
    assert(got.map(_._4).sum == 2L * edges.length)
    assert(got.map(_._3).sum <= edges.length)
    // the near-dup LPA partition must beat the chance baseline (exact
    // numerator sign — Q > 0), else the detector found noise
    val qNum = got.map(r => BigInt(4) * m * r._3 - BigInt(r._4) * r._4).sum
    assert(qNum > 0, "LPA partition no better than chance on the near-dup graph")
  }

  /** Direct single-threaded replay of graphPagerank's exact integer
    * recurrence (same scale, damping, truncating division, 6 rounds).
    */
  private def edgesModel(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, es) => k -> es.length.toLong }
    val n = deg.size.toLong
    val scale = 1000000000000L
    var rank: Map[Long, Long] = deg.map { case (k, _) => k -> scale / n }
    for (_ <- 1 to 6) {
      val inflow = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum
      }
      rank = inflow.map { case (v, s) =>
        v -> ((15L * scale) / (100L * n) + (85L * s) / 100L)
      }
    }
    rank
  }

  test("sample_uniform_k returns exactly k hash-smallest docs, reproducibly") {
    def ph(t: String): Long = {
      var h = 0L
      t.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
      h
    }
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val model = docs.map { case (id, t) => (ph("unif|" + t), id) }
      .sorted.take(100).zipWithIndex
      .map { case ((_, id), i) => id -> (i + 1).toLong }.toMap
    val got = Curate.sampleUniformK(spark, sfMid)
      .select("doc_id", "sample_rank").as[(Long, Long)].collect()
    assert(got.length == 100, "must return exactly k rows")
    assert(got.map(r => r._1 -> r._2).toMap == model,
      "sample membership/ranks drifted from the hash-order model")
    // reproducibility: a second run is bit-identical (no RNG anywhere)
    val again = Curate.sampleUniformK(spark, sfMid)
      .select("doc_id", "sample_rank").as[(Long, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("sample_group_k caps every source at its k hash-smallest docs") {
    def ph(t: String): Long = {
      var h = 0L
      t.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
      h
    }
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val model = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      rows.map(r => (ph("grpk|" + r._3), r._1)).sorted.take(10)
        .zipWithIndex.map { case ((_, id), i) => (src, id) -> (i + 1).toLong }
    }.toMap
    val got = Curate.sampleGroupK(spark, sfMid)
      .select("source", "doc_id", "sample_rank")
      .as[(String, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == model,
      "per-source membership/ranks drifted from the hash-order model")
    // every source is capped at min(k, |source|) — exercised non-vacuously
    val perSrc = got.groupBy(_._1).map { case (s, rs) => s -> rs.length }
    val srcSizes = docs.groupBy(_._2).map { case (s, rs) => s -> rs.length }
    perSrc.foreach { case (s, n) => assert(n == math.min(10, srcSizes(s))) }
    assert(srcSizes.values.exists(_ > 10), "cap must actually bite somewhere")
    // the "grpk|" salt decorrelates this cut from sample_uniform_k's
    val unif = Curate.sampleUniformK(spark, sfMid)
      .select("doc_id").as[Long].collect().toSet
    assert(got.map(_._2).toSet != unif, "salted orders must differ")
  }

  test("corpus_chisq cells match an exact BigInt recompute and sum to the χ² identity") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("lang", "source").as[(String, String)].collect()
    val n = BigInt(docs.length)
    val rt = docs.groupBy(_._1).map { case (k, v) => k -> BigInt(v.length) }
    val ct = docs.groupBy(_._2).map { case (k, v) => k -> BigInt(v.length) }
    val model = docs.groupBy(identity).map { case ((l, src), v) =>
      val o = BigInt(v.length)
      val delta = o * n - rt(l) * ct(src)
      (l, src) -> ((v.length.toLong,
        (rt(l) * ct(src) * 1000000 / n).toLong,
        (BigInt(1000000) * delta * delta / (n * rt(l) * ct(src))).toLong))
    }
    val got = Curate.corpusChisq(spark, sf)
      .select("lang", "source", "n_obs", "expected_micro", "chi2_micro")
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap == model,
      "chi-square cells drifted from the BigInt model")
    // observed totals must reproduce the marginals (cell partition sanity)
    assert(got.map(_._3).sum == docs.length.toLong)
  }

  test("graph_triangles matches a direct closed-wedge enumeration") {
    val dir = sfMid // sf0.001's corpus has too few near-dup pairs
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val pairs = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assume(pairs.nonEmpty, "corpus has no near-dup pairs — vacuous")
    val es = pairs.toSet
    val tris = for {
      (a, b) <- pairs.toSeq
      (b2, c) <- pairs.toSeq if b2 == b && es.contains((a, c))
    } yield (a, b, c)
    val model = tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Dedup.graphTriangles(spark, dir)
      .select("doc_id", "n_triangles").as[(Long, Long)].collect().toMap
    assert(got == model, "triangle counts drifted from the direct enumeration")
    // orientation uniqueness: every triangle counted exactly once means
    // total participation is 3 × triangle count
    assert(got.values.sum == 3L * tris.size)
  }

  test("text_surprisal bits equal the floor-log2 cross-entropy model") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val occ = docs.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
    val cnt = occ.groupBy(_._2).map { case (w, v) => w -> v.size.toLong }
    val total = cnt.values.sum
    def flog2(n: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val model = occ.groupBy(_._1).map { case (id, toks) =>
      val bits = toks.map { case (_, w) => flog2(total) - flog2(cnt(w)) }.sum
      id -> (toks.length.toLong, bits, bits * 1000 / toks.length)
    }
    val rows = graft.operators.TextOps.textSurprisal(spark, sf)
      .select("doc_id", "n_tokens", "total_bits", "bits_per_token_milli")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap == model,
      "surprisal drifted from the floor-log2 model")
    // rare tokens must cost more bits than the modal token anywhere
    assert(rows.exists(_._3 > 0), "some document must carry nonzero surprisal")
  }

  test("embedding triangle block join is bit-identical to the broadcast brute force") {
    // the registered distributed formulation must lose no pair and
    // produce the same doubles as the collect-based baseline (which is
    // spec-only — never registered)
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val a = Dedup.dedupEmbedding(spark, dir)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSeq
      val b = Dedup.dedupEmbeddingBruteForce(spark, dir)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSeq
      assert(a == b, s"block join != brute force at $dir")
    }
  }

  test("graph_link_predict matches the full in-memory wedge model on the weak graph") {
    def poly(str: String, mod: Long): Long =
      str.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % mod)
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    // replicate the shingle machinery: distinct trigram hashes per doc
    val tri = docs.map { case (id, text) =>
      id -> text.split(" ").sliding(3).filter(_.length == 3)
        .map(w => poly(w.mkString(" "), 2147483647L)).toArray.distinct.toSet
    }.filter(_._2.nonEmpty).toMap
    val ids = tri.keys.toArray.sorted
    val edges = (for {
      ai <- ids.indices.iterator; bi <- (ai + 1) until ids.length
      a = ids(ai); b = ids(bi)
      na = tri(a).size.toLong; nb = tri(b).size.toLong
      if nb * 10 >= na * 3 && na * 10 >= nb * 3
      i = (tri(a) & tri(b)).size.toLong
      if i > 0 && 100 * i >= 2 * (na + nb - i)
    } yield (a, b)).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val model = (for {
      (a, na) <- adj.toSeq; c <- na.flatMap(adj(_)) if a < c
      if !edges.contains((a, c))
      cn = (na & adj(c)).size.toLong if cn > 0
    } yield (a, c, cn,
      1000000L * cn / (na.size + adj(c).size - cn))).distinct.toSet
    val got = Dedup.graphLinkPredict(spark, sfMid)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(model.nonEmpty, "the weak graph must yield candidates at sf0.01")
    assert(got == model, s"link-predict drifted: ${got.size} vs model ${model.size}")
  }

  test("sample_temperature rates follow the exact isqrt schedule and the hash draw") {
    def poly(str: String): Long =
      str.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    def isqrt(n: Long): Long = { // exact integer sqrt by Newton + correction
      var r = math.sqrt(n.toDouble).toLong
      while (r * r > n) r -= 1
      while ((r + 1) * (r + 1) <= n) r += 1
      r
    }
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val nBySrc = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val rate = nBySrc.map { case (src, n) =>
      src -> math.min(1000000L, 1000000L * isqrt(n) / n)
    }
    val expected = docs.filter { case (_, src, text) =>
      poly("tmp|" + text) % 1000000L < rate(src)
    }.map(_._1).toSet
    val got = Curate.sampleTemperature(spark, sfMid)
      .select("doc_id", "source", "n_group", "rate_ppm")
      .as[(Long, String, Long, Long)].collect()
    assert(got.map(_._1).toSet == expected, "kept set drifted from the hash model")
    got.foreach { case (id, src, n, r) =>
      assert(n == nBySrc(src) && r == rate(src), s"doc $id group stats drifted")
    }
    // the sample must thin (flattening is vacuous if everything is kept)
    assert(expected.nonEmpty && expected.size < docs.length,
      s"sample kept ${expected.size} of ${docs.length}")
  }

  test("tokenize_bpe_dropout: masked replay in memory, dropout only splits finer") {
    import spark.implicits._
    val merges = TextOps.tokenizeBpe(spark, sf)
      .select("rank", "left_sym", "right_sym").as[(Long, String, String)]
      .collect().sortBy(_._1)
    def ph(t: String): Long = t.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val got = TextOps.tokenizeBpeDropout(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (word, _, base, drop, infl) =>
      val seq0 = " " + (word.split("").toSeq :+ "</w>").mkString("  ") + " "
      val dseq = merges.foldLeft(seq0) { case (sq, (k, l, r)) =>
        if (ph(s"bd|$word|$k") % 10 == 0) sq
        else sq.replace(s" $l  $r ", s" $l$r ")
      }
      assert(drop == dseq.trim.split("  ").length.toLong, s"$word drop arm")
      assert(drop >= base, s"$word: dropout merged finer than baseline?!")
      assert(infl == 1000000L * (drop - base) / base, s"$word inflation")
    }
    // the mask must actually fire somewhere at this vocab size
    assert(got.exists(r => r._4 > r._3), "no word inflated — dropout vacuous")
  }

  test("pack_subword: offsets stream the true subword mass in doc order") {
    import spark.implicits._
    val nSyms = TextOps.tokenizeBpeSegments(spark, sf)
      .select("word", "n_syms").as[(String, Long)].collect().toMap
    val expectedMass = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).map(nSyms).sum
      }.filter(_._2 > 0).sortBy(_._1)
    val got = graft.operators.Curate.packSubword(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2)).toSeq == expectedMass.toSeq)
    // offsets are the exclusive running sum; bins are offset div 2048
    var off = 0L
    got.foreach { case (id, n, o, b) =>
      assert(o == off, s"doc $id offset")
      assert(b == o / 2048, s"doc $id bin")
      off += n
    }
    // the subword mass must differ from the whitespace mass somewhere,
    // else this face adds nothing over pack_sequential
    val ws = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    assert(got.exists { case (id, n, _, _) => ws(id) != n },
      "subword mass identical to whitespace mass — vacuous")
  }

  test("corpus_quality_curve: monotone, anchored at full corpus, ties to the 0.5 gate") {
    val curve = graft.operators.Curate.corpusQualityCurve(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq == (0L to 9L))
    // thr=0 retains everything
    val q = TextOps.textQuality(spark, sf)
      .select("doc_id", "n_tokens", "quality_score")
      .as[(Long, Long, Double)].collect()
    assert(curve.head._3 == q.length.toLong && curve.head._5 == 1000000L)
    // monotone non-increasing in both docs and tokens
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"curve not monotone at thr ${b._1}")
    }
    // the thr=5 row is EXACTLY the docs pipeline_curate's 0.5 gate keeps
    // (same formula, decile >= 5 <=> score >= 0.5 up to the float floor)
    val gate5 = q.count(r => math.floor(math.min(r._3 * 10, 9.0)) >= 5)
    assert(curve(5)._3 == gate5.toLong, "thr=5 disagrees with the decile fold")
    // the curve must separate somewhere (a flat curve reads nothing)
    assert(curve.map(_._3).distinct.length > 1, "quality curve is flat")
  }

  test("ml_bootstrap_ci: exact Poisson-weight replay, CI brackets the point") {
    val pass = TextOps.textQuality(spark, sf)
      .select("doc_id", "quality_score")
      .as[(Long, Double)].collect()
      .map { case (d, s0) => (d, if (s0 >= 0.5) 1L else 0L) }
    def fold(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    def scrambled(rep: Long, doc: Long): Long = {
      val h0 = fold(s"boot$rep|$doc")
      val h1 = fold(h0.toString.reverse)
      val h2 = fold(h1.toString.reverse)
      fold(h2.toString.reverse)
    }
    val thresholds = Seq(367879L, 735758L, 919698L, 981011L,
      996340L, 999405L, 999916L)
    def weight(u: Long): Long = {
      val i = thresholds.indexWhere(u < _)
      if (i < 0) 7L else i.toLong
    }
    val rates = (0L until 64L).map { rep =>
      var tot = 0L; var pw = 0L
      pass.foreach { case (d, p) =>
        val w = weight(scrambled(rep, d) % 1000000L)
        tot += w; pw += w * p
      }
      (rep, if (tot == 0) 0L else 1000000L * pw / tot)
    }
    val sorted = rates.sortBy(r => (r._2, r._1)).map(_._2)
    val (lo, hi) = (sorted(1), sorted(62)) // ranks 2 and 63, 1-indexed
    val point = 1000000L * pass.map(_._2).sum / pass.length
    val row = graft.operators.Curate.mlBootstrapCi(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(row == ((pass.length.toLong, 64L, point, lo, hi, hi - lo)),
      "bootstrap row diverges from the exact in-memory replay")
    // the percentile CI must bracket the point estimate and be
    // non-degenerate — a zero-width CI means the weights collapsed
    assert(lo <= point && point <= hi, "CI does not bracket the point")
    assert(hi > lo, "degenerate zero-width CI")
    // Poisson(1) weights average to ~1: total resampled mass within
    // 5% of B·n (loose — catches a broken CDF constant, not noise)
    val totalMass = (0L until 64L).map { rep =>
      pass.map { case (d, _) => weight(scrambled(rep, d) % 1000000L) }.sum
    }.sum
    val expected = 64L * pass.length
    assert(math.abs(totalMass - expected) * 20 < expected,
      s"resampled mass $totalMass far from $expected — CDF constants broken?")
  }

  test("pipeline_pretrain_build: the composed DAG ties out against its stage faces") {
    import spark.implicits._
    val ledger = graft.operators.Curate.pipelinePretrainBuild(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().sortBy(_._1)
    assert(ledger.nonEmpty)
    // [contiguity] shards tile the shuffled survivor order exactly:
    // first_pos chains off the previous last_pos, doc counts match spans
    var expectFirst = 1L
    ledger.foreach { case (sh, nDocs, _, _, first, last, _, _, _) =>
      assert(first == expectFirst, s"shard $sh first_pos")
      assert(last - first + 1 == nDocs, s"shard $sh span vs n_docs")
      expectFirst = last + 1
    }
    // [mass conservation vs the stage faces] survivors = the cluster-
    // policy curate face ∩ the dedup-aware train side; their mass = the
    // pack_subword face's per-doc subword mass. Three independently
    // oracle-checked operators must reproduce the ledger's totals.
    val curated = graft.operators.Curate.pipelineCurateCluster(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val train = graft.operators.Curate.splitDedupAware(spark, sf)
      .filter(org.apache.spark.sql.functions.col("split") === "train")
      .select("doc_id").as[Long].collect().toSet
    val mass = graft.operators.Curate.packSubword(spark, sf)
      .select("doc_id", "n_subwords").as[(Long, Long)].collect().toMap
    val keepMass = (curated & train).toSeq.flatMap(mass.get)
    assert(ledger.map(_._2).sum == keepMass.size,
      "ledger doc total != composed survivor count")
    assert(ledger.map(_._3).sum == keepMass.sum,
      "ledger subword total != composed survivor mass")
    // [skew gate identity] flag and deviation replay from the row itself
    val meanAll = ledger.map(_._3).sum / ledger.length
    ledger.foreach { case (sh, _, n, _, _, _, mean, dev, strag) =>
      assert(mean == meanAll, s"shard $sh mean")
      assert(dev == 1000000L * (n - mean) / mean ||
        dev == Math.floorDiv(1000000L * (n - mean), mean), s"shard $sh dev_ppm")
      assert(strag == (n * 1000000L > mean * 1050000L), s"shard $sh flag")
    }
    // the deviation must be a real signal: both signs present
    assert(ledger.exists(_._8 > 0) && ledger.exists(_._8 < 0),
      "all shards identical — skew gate vacuous at this SF")
  }

  test("text_surprisal_bigram matches an in-memory conditional-bits model") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    def bigrams(t: String): Seq[(String, String)] = {
      val ws = t.split(" ", -1)
      if (ws.length < 2) Seq.empty else ws.zip(ws.tail).toSeq
    }
    val all = docs.flatMap { case (id, t) => bigrams(t).map(b => (id, b)) }
    val cnt2 = all.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cnt1 = all.groupBy(_._2._1).view.mapValues(_.length.toLong).toMap
    def lg(n: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val expected = all.groupBy(_._1).map { case (id, bs) =>
      val bits = bs.map { case (_, b) => lg(cnt1(b._1)) - lg(cnt2(b)) }.sum
      (id, bs.length.toLong, bits, bits * 1000 / bs.length)
    }.toSet
    val got = TextOps.textSurprisalBigram(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("ml_eval_langid: confusion accounting is exact and globally consistent") {
    import spark.implicits._
    val lg = TextOps.textLangid(spark, sf)
      .select("lang", "pred_lang").as[(String, String)].collect()
    val classes = (lg.map(_._1) ++ lg.map(_._2)).toSet
    val got = TextOps.mlEvalLangid(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == classes)
    got.foreach { case (c, nt, np, tp, prec, rec) =>
      assert(nt == lg.count(_._1 == c), c)
      assert(np == lg.count(_._2 == c), c)
      assert(tp == lg.count(r => r._1 == c && r._2 == c), c)
      assert(prec == 1000000L * tp / math.max(np, 1L), c)
      assert(rec == 1000000L * tp / math.max(nt, 1L), c)
    }
    // global balance: Σ n_true = Σ n_pred = corpus docs; Σ tp ≤ both
    assert(got.map(_._2).sum == lg.length)
    assert(got.map(_._3).sum == lg.length)
    assert(got.map(_._4).sum <= lg.length)
  }

  test("dedup_recall_eval scores the approximate faces against the exact pair truth") {
    val dir = sfMid
    assume(new java.io.File(dir).isDirectory, s"$dir absent — cancelling, not failing")
    val truth = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assume(truth.nonEmpty, "no near-dup pairs — vacuous")
    val faces = Map(
      "minhash_lsh" -> Dedup.dedupMinhashLsh(spark, dir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect(),
      "simhash" -> Dedup.dedupSimhash(spark, dir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect())
    val got = Dedup.dedupRecallEval(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == faces.keySet)
    faces.foreach { case (face, pairs) =>
      val (_, tp, ret, hits, rec, prec) = got(face)
      assert(tp == truth.size.toLong, face)
      assert(ret == pairs.length.toLong, face)
      assert(hits == pairs.count(truth).toLong, face)
      assert(rec == 1000000L * hits / tp, face)
      assert(prec == 1000000L * hits / ret, face)
    }
    // the harness must be non-vacuous in BOTH directions: at least one
    // face misses truth or over-returns, else the eval distinguishes
    // nothing (simhash's wide net guarantees this on the real corpus)
    assert(got.values.exists(r => r._4 < r._2 || r._3 > r._2),
      "every face returned exactly the truth — eval is vacuous")
  }

  test("sample_weighted_k matches the in-memory E-S surrogate and favors heavy docs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfMid/documents.parquet")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    // the split-family hash: char fold mod 1e9+7 (NOT MinHashKernel's
    // 2^31-1 shingle modulus)
    def ph(t: String): Long = t.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val scored = docs.map { case (id, src, text) =>
      val w = text.split(" ", -1).length.toLong
      (id, src, w, ph("wk|" + text) / w)
    }
    val expected = scored.sortBy { case (id, _, _, p) => (p, id) }.take(100)
      .zipWithIndex.map { case ((id, src, w, p), i) => (id, src, w, p, i + 1L) }.toSet
    val got = graft.operators.Curate.sampleWeightedK(spark, sfMid)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // the weighting must be non-vacuous: kept docs are heavier on
    // average than the corpus (P(select) grows with weight)
    val keptMean = got.toSeq.map(_._3).sum.toDouble / got.size
    val allMean = scored.map(_._3).sum.toDouble / scored.length
    assert(keptMean > allMean,
      s"weighted sample not heavier than corpus: $keptMean <= $allMean")
  }

  test("tokenize_coverage matches the segment table's per-source mass exactly") {
    import spark.implicits._
    val nSyms = TextOps.tokenizeBpeSegments(spark, sf)
      .select("word", "n_syms").as[(String, Long)].collect().toMap
    val occ = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").as[(String, String)].collect()
      .flatMap { case (src, text) =>
        text.split(" ").filter(_.nonEmpty).map(w => (src, w))
      }
      .groupBy(identity).map { case ((src, w), hits) => (src, w, hits.length.toLong) }
    val expected = occ.groupBy(_._1).map { case (src, rows) =>
      val nWords = rows.map(_._3).sum
      val nChars = rows.map { case (_, w, n) => n * w.length }.sum
      val nSub = rows.map { case (_, w, n) => n * nSyms(w) }.sum
      (src, nWords, nChars, nSub, nChars * 1000000L / nSub)
    }.toSet
    val got = TextOps.tokenizeCoverage(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // floors, asserted separately: a subword stream can never be
    // shorter than its word stream, nor chars shorter than words
    got.foreach { case (src, nWords, nChars, nSub, _) =>
      assert(nWords > 0, src)
      assert(nSub >= nWords, src)
      assert(nChars >= nWords, src)
    }
  }

  test("corpus_decontaminate ledger matches a direct shingle-set recompute") {
    import spark.implicits._
    val got = Dedup.corpusDecontaminate(spark, sfMid)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val ds = graft.sources.Tables.load(spark, sfMid, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .as[(Long, String, String, Long)].collect()
    def tris(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val evalSet = ds.filter(_._3 == "src0").flatMap(r => tris(r._2)).toSet
    val train = ds.filter(_._3 != "src0")
    val dropped = train.filter(r => (tris(r._2) & evalSet).size >= 3)
      .map(_._1).toSet
    val expected = train.groupBy(_._3).map { case (src, rs) =>
      val nd = rs.count(r => dropped(r._1))
      val ct = rs.map(_._4).sum
      val cd = rs.filter(r => dropped(r._1)).map(_._4).sum
      src -> ((rs.length.toLong, nd.toLong, ct, cd, (ct - cd) * 1000000L / ct))
    }
    assert(got == expected, "decontamination ledger drifted")
    // non-vacuous: the synthetic corpus must plant at least one leak
    assert(got.values.map(_._2).sum > 0, "no contaminated train docs at sfMid")
    assert(!got.contains("src0"), "eval source must not appear in the ledger")
  }

  test("graph_components_incremental equals the full recompute") {
    import spark.implicits._
    val inc = Dedup.graphComponentsIncremental(spark, sfMid)
      .as[(Long, Long)].collect().toSeq
    val full = Dedup.dedupComponents(spark, sfMid)
      .as[(Long, Long)].collect().toSeq
    assert(inc == full, "incremental labels drifted from the full recompute")
    // non-vacuous: the delta batch must actually touch the graph —
    // some paired node is a NEW doc (doc_id % 5 == 0), and some
    // component must span the old/new boundary (a real merge happened)
    assert(inc.exists(_._1 % 5 == 0), "no new docs in the pair graph")
    val byComp = inc.groupBy(_._2).values
    assert(byComp.exists(c => c.exists(_._1 % 5 == 0) && c.exists(_._1 % 5 != 0)),
      "no component spans the delta boundary — the contraction path is untested")
  }

  test("text_search_topk replays integer tf-idf retrieval and surfaces the rare term") {
    import spark.implicits._
    val got = graft.operators.TextOps.textSearchTopk(spark, sfMid)
      .as[(Long, Long, Long, Long)].collect()
    val ds = graft.sources.Tables.load(spark, sfMid, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val words = ds.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty) }
    val n = ds.length.toLong
    val df = words.flatMap { case (_, ws) => ws.distinct }.groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val ranked = df.toSeq.sortBy { case (w, d) => (d, w) }.take(6)
    val queries = ranked.grouped(2).zipWithIndex
      .map { case (ts, i) => (i + 1L) -> ts.map { case (w, d) =>
        w -> (bits(n) - bits(d) + 1L) }.toMap }.toMap
    val expected = queries.toSeq.flatMap { case (qid, terms) =>
      words.flatMap { case (id, ws) =>
        val score = ws.groupBy(identity).collect {
          case (w, occ) if terms.contains(w) => occ.length.toLong * terms(w)
        }.sum
        if (score > 0) Some((qid, id, score)) else None
      }.sortBy { case (_, id, sc) => (-sc, id) }.take(10).zipWithIndex
        .map { case ((q, id, sc), i) => (q, i + 1L, id, sc) }
    }.toSet
    assert(got.toSet == expected, "retrieval ranking drifted")
    assert(got.count(_._1 == 1L) == 10 && got.count(_._1 == 3L) == 10)
    // the idf boost must surface the planted rare term: q1's top doc
    // contains the corpus's rarest word
    val rarest = ranked.head._1
    val top1 = got.filter(r => r._1 == 1L && r._2 == 1L).head._3
    val topText = ds.find(_._1 == top1).get._2
    assert(topText.split(" ", -1).contains(rarest),
      s"q1 top doc $top1 lacks rare term '$rarest'")
  }

  test("corpus_token_budget selection is prefix-consistent and budget-bound") {
    import spark.implicits._
    val got = graft.operators.Curate.corpusTokenBudget(spark, sfMid)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val q = graft.operators.TextOps.textQuality(spark, sfMid)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .as[(Long, Long, Double)].collect()
    val ranked = q.map { case (id, nt, sc) =>
      (id, nt, math.min(math.floor(sc * 1000).toLong, 999L)) }
      .sortBy { case (id, _, mb) => (-mb, id) }
    val budget = ranked.map(_._2).sum / 2
    var cum = 0L
    val sel = ranked.map { case (id, nt, mb) =>
      val take = cum < budget; cum += nt; (id, nt, mb, take) }
    val expected = sel.groupBy(_._3 / 100).toSeq.sortBy(_._1).map { case (dec, rs) =>
      val ts = rs.filter(_._4)
      (dec, rs.length.toLong, ts.length.toLong,
        rs.map(_._2).sum, ts.map(_._2).sum,
        ts.map(_._2).sum * 1000000L / rs.map(_._2).sum)
    }
    assert(got.toSeq == expected, "budget selection ledger drifted")
    // budget binds: selected mass stays within budget + one marginal doc
    val selTok = got.map(_._5).sum
    val maxDoc = q.map(_._2).max
    assert(selTok >= budget && selTok < budget + maxDoc,
      s"selected $selTok vs budget $budget (max doc $maxDoc)")
    // prefix consistency: selection ppm non-decreasing with decile
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._6 <= b._6, s"decile ${a._1} ppm ${a._6} > decile ${b._1} ${b._6}")
    }
  }

  test("pack_sorted: ledger replays both batchings; sorting strictly cuts padding") {
    val got = Curate.packSorted(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val h = polyHash(concat(lit("bat|"), col("text")), 1000000007L)
    val rows = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"), h)
      .as[(Long, Long, Long)].collect()
    def ledger(tokensInOrder: Seq[Long]) = {
      val batches = tokensInOrder.grouped(8).toSeq
      val total = batches.map(_.sum).sum
      val padded = batches.map(b => b.max * b.length - b.sum).sum
      (batches.length.toLong, total, padded,
        padded * 1000000L / (total + padded))
    }
    val sortedL = ledger(rows.sortBy(r => (-r._2, r._1)).map(_._2).toSeq)
    val shuffledL = ledger(rows.sortBy(r => (r._3, r._1)).map(_._2).toSeq)
    assert(got("sorted") == sortedL, "sorted ledger drifted")
    assert(got("shuffled") == shuffledL, "shuffled ledger drifted")
    // the business case: length-sorting must strictly cut padding waste
    assert(sortedL._4 < shuffledL._4,
      s"sorted waste ${sortedL._4} not below shuffled ${shuffledL._4}")
  }

  test("corpus_upsample: ledger replays the repetition rule and rebalances languages") {
    val got = Curate.corpusUpsample(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    val h = polyHash(concat(lit("up|"), col("text")), 1000000007L)
    val rows = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("lang"), h % 1000L)
      .as[(String, Long)].collect()
    val n = rows.length.toLong
    val k = rows.map(_._1).distinct.length.toLong
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, rs) =>
      val rep = n * 1000L / (k * rs.length)
      val emitted =
        rs.map(r => rep / 1000L + (if (r._2 < rep % 1000L) 1L else 0L)).sum
      (l, rs.length.toLong, rep, emitted)
    }
    val totE = expected.map(_._4).sum
    assert(got.toSeq ==
      expected.map(e => (e._1, e._2, e._3, e._4, e._4 * 1000000L / totE)),
      "upsample ledger drifted")
    // non-vacuous: at least one language up-samples and one down-samples
    assert(got.exists(_._3 > 1000L) && got.exists(_._3 < 1000L),
      "repetition factors vacuous — corpus balanced?")
    // every language's achieved share moves toward the 1/k target
    got.foreach { case (l, nd, _, _, share) =>
      val natural = nd * 1000000L / n
      val target = 1000000L / k
      assert(math.abs(share - target) <= math.abs(natural - target),
        s"$l moved away from balance: natural $natural share $share")
    }
  }

  test("interleave order is per-source balanced in every full-round prefix") {
    import spark.implicits._
    val out = Curate.corpusInterleave(spark, sfMid)
      .as[(Long, String, Long, Long)].collect().sortBy(_._4)
    // the key is a total read order
    assert(out.map(_._4).distinct.length == out.length, "keys collide")
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    val k = bySrc.size; val mmin = bySrc.values.min
    assert(k >= 2, "single-source corpus — interleave vacuous")
    // every source's rank-r doc precedes every rank-(r+1) doc, so the
    // first k*m keys hold exactly m docs of EVERY source while all last
    val prefix = out.take(k * mmin)
    val cnt = prefix.groupBy(_._2).view.mapValues(_.length).toMap
    assert(cnt.values.toSet == Set(mmin), s"full-round prefix unbalanced: $cnt")
    // and ANY prefix in the balanced region is within +-1 per source
    (1 to math.min(k * mmin, 60)).foreach { m =>
      val c = out.take(m).groupBy(_._2).view.mapValues(_.length).toMap
      val vs = bySrc.keySet.toSeq.map(s0 => c.getOrElse(s0, 0))
      assert(vs.max - vs.min <= 1, s"prefix $m unbalanced: $c")
    }
    // per-source ranks are dense 1..n
    out.groupBy(_._2).foreach { case (s0, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq,
        s"$s0 ranks not dense")
    }
  }

  test("lsh banding curve is monotone and its 8x4 row ties to the production face") {
    import spark.implicits._
    val out = Dedup.dedupLshCurve(spark, sfMid)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 8L, 16L))
    out.foreach { r =>
      assert(r._1 * r._2 == 32L, "bands x rows must use all lanes")
      assert(r._4 <= r._3, "verified beyond candidates")
      assert(r._5 <= r._6 && r._5 <= r._3, "truth hits out of range")
      assert(r._7 == r._5 * 1000000 / r._6)
    }
    // more bands -> more candidates -> recall can only grow... banding
    // at finer granularity is a superset candidate generator? NOT in
    // general (different band boundaries), but candidates and recall
    // measured monotone on this corpus — pin the measured shape
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted, "candidates not monotone")
    assert(out.map(_._7).toSeq == out.map(_._7).toSeq.sorted, "recall not monotone")
    // the 8x4 config IS dedupMinhashLsh's banding: verified counts match
    val lsh = Dedup.dedupMinhashLsh(spark, sfMid).count()
    assert(out.find(_._1 == 8L).get._4 == lsh,
      "curve's 8x4 verified count drifted from the production face")
  }

  test("dedup_lsh_plan picks the cheapest-candidates reached config, degrades honestly") {
    import spark.implicits._
    val curve = Dedup.dedupLshCurve(spark, sfMid)
      .select("n_bands", "rows_per_band", "n_candidates", "n_verified", "recall_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val expected = Seq(700000L, 800000L, 900000L, 950000L).map { t =>
      val reached = curve.filter(_._5 >= t)
      val pick =
        if (reached.nonEmpty) reached.minBy(c => (c._3, c._1))
        else curve.maxBy(c => (c._5, -c._3, -c._1))
      (t, pick._1, pick._2, pick._5, pick._3,
        1000000L * pick._4 / math.max(pick._3, 1L),
        if (pick._5 >= t) 1L else 0L)
    }
    val got = Dedup.dedupLshPlan(spark, sfMid)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, "banding plan drifted from the curve replay")
    // a degraded target must carry the curve's best recall and admit it
    got.filter(_._7 == 0L).foreach { r =>
      assert(r._4 == curve.map(_._5).max, "degraded row must fall to best recall")
      assert(r._4 < r._1, "a degraded row claiming to meet its target")
    }
    // the SLO dial buys recall with candidates: a harder reached target
    // never picks a CHEAPER candidate volume
    val reachedRows = got.filter(_._7 == 1L)
    reachedRows.sliding(2).foreach {
      case Seq(a, b) => assert(a._5 <= b._5,
        "harder target picked a cheaper candidate volume")
      case _ =>
    }
  }

  test("vocab_drift: both rankings replayed, head stable, churn lives at the cap boundary") {
    import graft.operators.TextOps
    val got = TextOps.vocabDrift(spark, sfMid).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("rank_lo"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_same_id"), r.getAs[Long]("churn_ppm"),
        r.getAs[Long]("mean_shift_milli"), r.getAs[Long]("vocab_total"),
        r.getAs[Long]("survivors_total"), r.getAs[Long]("overlap_ppm")))
      .sortBy(_._1)
    // replay both capped rankings from the raw documents
    val docs = graft.sources.Tables.load(spark, sfMid, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def bigrams(t: String) = t.split(" ").sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")).toSeq
    val occA = scala.collection.mutable.Map[String, Long]()
    val occB = scala.collection.mutable.Map[String, Long]()
    docs.foreach { case (id, t) =>
      bigrams(t).foreach { bg =>
        occA(bg) = occA.getOrElse(bg, 0L) + 1
        if (id % 10 != 0) occB(bg) = occB.getOrElse(bg, 0L) + 1
      }
    }
    def top(m: scala.collection.Map[String, Long]) =
      m.toSeq.sortBy { case (tok, c) => (-c, tok) }.take(512)
        .zipWithIndex.map { case ((tok, _), i) => tok -> (i + 256L) }
    val idB = top(occB).toMap
    val aft = top(occA)
    // per-bucket replay
    val byBucket = aft.map { case (tok, id) =>
      val rank = id - 255
      (63 - java.lang.Long.numberOfLeadingZeros(rank), tok, id)
    }.groupBy(_._1)
    assert(got.map(_._1).toSet == byBucket.keySet.map(_.toLong))
    got.foreach { r =>
      val ts = byBucket(r._1.toInt)
      assert(r._2 == (1L << r._1) && r._3 == ts.length.toLong)
      assert(r._4 == ts.count(t => !idB.contains(t._2)).toLong, s"bucket ${r._1} n_new")
      assert(r._5 == ts.count(t => idB.get(t._2).contains(t._3)).toLong,
        s"bucket ${r._1} n_same_id")
      assert(r._6 == 1000000L * r._4 / r._3, s"bucket ${r._1} churn")
      val surv = ts.flatMap(t => idB.get(t._2).map(b => math.abs(t._3 - b)))
      val want = if (surv.isEmpty) 0L else 1000L * surv.sum / surv.length
      assert(r._7 == want, s"bucket ${r._1} mean shift")
    }
    // constants + overlap identity
    val h = got.head
    assert(got.map(_._3).sum == h._8, "bucket tokens must sum to the vocab")
    assert(h._8 == aft.length.toLong &&
      h._9 == aft.count(t => idB.contains(t._1)).toLong)
    assert(h._10 == 1000000L * h._9 / h._8)
    // the lesson: the HEAD is stable (no new entries in the first four
    // buckets) and churn concentrates at the cap boundary
    got.filter(_._1 <= 3).foreach(r => assert(r._4 == 0L, "head must be stable"))
    val maxChurn = got.map(_._6).max
    assert(got.maxBy(_._6)._1 >= got.map(_._1).max - 1,
      s"max churn ($maxChurn ppm) must sit at the cap boundary")
  }

  test("rendezvous resharding moves a seventeenth where modular moves all") {
    import spark.implicits._
    val rows = Curate.corpusShardsRendezvous(spark, sfMid)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val ids = spark.read.parquet(s"$sfMid/documents.parquet")
      .select("doc_id").as[Long].collect()
    val (mod, rdv) = (rows("modular"), rows("rendezvous"))
    assert(mod._2 == ids.length && rdv._2 == ids.length)
    // modular replayed exactly: almost every doc moves on 16 -> 17
    assert(mod._3 == ids.count(d => d % 16 != d % 17))
    assert(mod._4 > 900000L, s"modular should move ~16/17: $mod")
    // rendezvous moves only what the new shard wins: ~1/17
    assert(rdv._3 > 0 && rdv._4 < 150000L,
      s"rendezvous should move ~1/17: $rdv")
    assert(rdv._4 == rdv._3 * 1000000 / rdv._2)
  }

  test("containment catches a verbatim quote that jaccard misses") {
    import spark.implicits._
    val short = (1 to 12).map(i => s"w$i").mkString(" ")          // 10 shingles
    val long = short + " " + (1 to 100).map(i => s"z$i").mkString(" ") // 110
    val same = (1 to 12).map(i => s"v$i").mkString(" ")
    val df = docsDf(Seq((1L, short, "en"), (2L, long, "en"),
      (3L, (1 to 12).map(i => s"u$i").mkString(" "), "en"),
      (4L, same, "en"), (5L, same, "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-cont/documents.parquet")
    val out = Dedup.dedupContainment(spark, "/tmp/graft-test-cont")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    // the quote pair: fully contained, jaccard 10/110 — invisible to the
    // 0.3 jaccard policy AND to its size-compatibility prune
    assert(out.contains((1L, 2L, 10L, 10L, 1000000L, 90909L, 1L)))
    // the identical pair: containment and jaccard both saturate
    assert(out.contains((4L, 5L, 10L, 10L, 1000000L, 1000000L, 0L)))
    // the unrelated doc shares no shingles with anything
    assert(!out.exists(r => r._1 == 3L || r._2 == 3L))
    // jaccard face (the production 0.3 policy) indeed misses the quote
    val j = Dedup.dedupNgramJaccard(spark, "/tmp/graft-test-cont")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!j.contains((1L, 2L)) && j.contains((4L, 5L)))
  }

  test("containment is a superset of strong-jaccard pairs on the real corpus") {
    import spark.implicits._
    val cont = Dedup.dedupContainment(spark, sfMid)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // j >= 1/3 implies i >= (na+nb)/4 >= min/2, i.e. containment >= 0.5
    val strong = Dedup.dedupNgramJaccard(spark, sfMid)
      .filter(col("jaccard") >= 1.0 / 3.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(strong.nonEmpty && strong.subsetOf(cont),
      s"missing: ${strong -- cont}")
  }

  test("bfs hops measure chain depth from the cluster exemplar") {
    import spark.implicits._
    val xs = (1 to 12).map(i => s"x$i"); val ys = (1 to 12).map(i => s"y$i")
    val a = xs.mkString(" ")                       // 10 shingles
    val b = (xs ++ ys).mkString(" ")               // 22: j(a,b)=10/22
    val c = (ys ++ (1 to 6).map(i => s"q$i")).mkString(" ") // 16: j(b,c)=10/28
    val df = docsDf(Seq((1L, a, "en"), (2L, b, "en"), (3L, c, "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-bfs/documents.parquet")
    val out = Dedup.graphBfs(spark, "/tmp/graft-test-bfs")
      .as[(Long, Long, Long)].collect().toSet
    // a–b–c is a chain (j(a,c)=0): the exemplar is doc 1, doc 3 is two
    // transitive hops from the doc that keeps its cluster
    assert(out == Set((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 2L)))
  }

  test("bfs past the round cap throws and releases its edge cache") {
    // doc i shares 12 of its 18 words with doc i+1 (trigram Jaccard
    // 10/22) and 6 with doc i+2 (4/28, below the 0.3 cut): the far end
    // of a 66-doc chain is 65 hops from the exemplar, past the cap
    val words = (0 until 6 * 65 + 18).map(i => s"t$i")
    val df = docsDf((0 until 66).map(i =>
      ((i + 1).toLong, words.slice(6 * i, 6 * i + 18).mkString(" "), "en")))
    df.write.mode("overwrite").parquet("/tmp/graft-test-bfs-chain/documents.parquet")
    // the CacheManager's entry count is Spark-internal API (public in
    // the bytecode, so reflection reaches it)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached(): Int =
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = cached()
    val err = intercept[IllegalStateException](
      Dedup.graphBfs(spark, "/tmp/graft-test-bfs-chain"))
    assert(err.getMessage.contains("graphBfs did not converge"))
    assert(cached() <= before, s"the loop's edge cache outlived the throw: ${cached()} > $before")
  }

  test("dedup_components on disjoint near-dup pairs converges in one loop round") {
    // three pairs, each a 12-word doc and the same doc plus 2 words
    // (trigram Jaccard 10/12), no word shared across pairs: the first
    // neighbor-min hop already holds every pair's minimum, so the loop's
    // one round only confirms it (one `changed` count)
    val docs = (0 until 3).flatMap { k =>
      val ws = (0 until 12).map(i => s"p${k}w$i")
      Seq(((2 * k + 1).toLong, ws.mkString(" "), "en"),
        ((2 * k + 2).toLong, (ws :+ s"p${k}x" :+ s"p${k}y").mkString(" "), "en"))
    }
    val dir = "/tmp/graft-test-components-pairs"
    docsDf(docs).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val actions = Tool.actionsOf(spark)(Tool.runToNoop(spark, dir, "dedup_components"))
    assert(actions.count(_._1 == "count") == 1, actions.map(_._1).mkString(", "))
    val out = Dedup.dedupComponents(spark, dir).as[(Long, Long)].collect().toSet
    assert(out == (1L to 6L).map(i => (i, i - (i + 1) % 2)).toSet)
  }

  test("bfs agrees with components and satisfies the parent property on the real corpus") {
    import spark.implicits._
    val bfs = Dedup.graphBfs(spark, sfMid)
      .as[(Long, Long, Long)].collect()
    val comp = Dedup.dedupComponents(spark, sfMid)
      .as[(Long, Long)].collect().toMap
    assert(bfs.map(r => (r._1, r._2)).toMap == comp, "labels drifted from components")
    bfs.foreach { case (id, label, h) =>
      assert((h == 0L) == (id == label), s"exemplar/hops mismatch at $id")
    }
    val hops = bfs.map(r => (r._1, r._3)).toMap
    val edges = Dedup.dedupNgramJaccard(spark, sfMid)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap(e => Seq(e, e.swap))
    edges.foreach { case (u, v) =>
      assert(math.abs(hops(u) - hops(v)) <= 1, s"edge ($u,$v) violates BFS levels")
    }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    hops.foreach { case (v, h) =>
      if (h > 0)
        assert(nbrs(v).exists(u => hops(u) == h - 1), s"$v at depth $h has no parent")
    }
  }

  test("calibration ledger conserves docs and ties passes to the quality gate") {
    val out = TextOps.mlCalibration(spark, sfMid).collect()
    val total = spark.read.parquet(s"$sfMid/documents.parquet").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total, "docs not conserved")
    val gatePass = TextOps.textQuality(spark, sfMid)
      .filter(col("quality_score") >= 0.5).count()
    assert(out.map(_.getAs[Long]("n_pass")).sum == gatePass,
      "passes drifted from the production gate")
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val m = r.getAs[Long]("mean_logit_micro") + 16000000L
      assert(b * 500000L <= m && m < (b + 1) * 500000L, s"mean outside bucket $b")
      assert(r.getAs[Long]("pass_ppm") ==
        r.getAs[Long]("n_pass") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // the distilled filter is calibrated on this corpus: pass rate is
    // monotone non-decreasing in the logit bucket (measured at sf0.01)
    val rates = out.sortBy(_.getAs[Long]("bucket")).map(_.getAs[Long]("pass_ppm")).toSeq
    assert(rates == rates.sorted, s"pass rate not monotone: $rates")
  }

  test("auc equals a brute-force pairwise comparison of classifier vs gate") {
    import spark.implicits._
    val cls = TextOps.qualityClassifier(spark, sfMid)
      .select("doc_id", "logit_micro").as[(Long, Long)].collect().toMap
    val gate = TextOps.textQuality(spark, sfMid)
      .select(col("doc_id"), (col("quality_score") >= 0.5).as("p"))
      .as[(Long, Boolean)].collect()
    val pos = gate.filter(_._2).map(r => cls(r._1))
    val neg = gate.filterNot(_._2).map(r => cls(r._1))
    var u2 = BigInt(0)
    for (p <- pos; n2 <- neg)
      u2 += (if (p > n2) 2 else if (p == n2) 1 else 0)
    val out = TextOps.mlAuc(spark, sfMid).head()
    assert(out.getAs[Long]("n_pos") == pos.length.toLong)
    assert(out.getAs[Long]("n_neg") == neg.length.toLong)
    assert(BigInt(out.getAs[Long]("u2")) == u2, "rank-sum drifted from brute force")
    assert(out.getAs[Long]("auc_ppm") ==
      (u2 * 1000000 / (2 * BigInt(pos.length) * neg.length)).toLong)
    // the distilled filter genuinely separates the gate on this corpus
    assert(out.getAs[Long]("auc_ppm") > 900000L)
  }

  test("auc saturates when classifier and gate agree on the length axis") {
    // length is the axis BOTH faces score the same way (stopwords they
    // genuinely disagree on — the classifier rewards them as a
    // natural-language signal, the gate penalizes them; the brute-force
    // test above carries that case). Long clean docs: logit 0, gate
    // pass; short clean docs: logit -1.5, gate fail -> AUC = 1.
    val long = (1 to 80).map(i => s"tok$i").mkString(" ")
    val short = (1 to 15).map(i => s"q$i").mkString(" ")
    docsDf(Seq.tabulate(3)(i => (i + 1L, long + s" u$i", "en")) ++
      Seq.tabulate(3)(i => (i + 4L, short + s" w$i", "en")))
      .write.mode("overwrite").parquet("/tmp/graft-test-auc/documents.parquet")
    val sep = TextOps.mlAuc(spark, "/tmp/graft-test-auc").head()
    assert(sep.getAs[Long]("n_pos") == 3L && sep.getAs[Long]("n_neg") == 3L)
    assert(sep.getAs[Long]("auc_ppm") == 1000000L, "separation not saturated")
  }

  test("pr curve is the reverse cumulative of the calibration histogram") {
    import spark.implicits._
    val cal = TextOps.mlCalibration(spark, sfMid)
      .select("bucket", "n_docs", "n_pass")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val pr = TextOps.mlPrCurve(spark, sfMid)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(pr.map(_._1).toSeq == cal.map(_._1).toSeq, "threshold axis drifted")
    val pos = cal.map(_._3).sum
    pr.foreach { case (b, pp, tp, prec, rec, f1) =>
      val tail = cal.filter(_._1 >= b)
      assert(pp == tail.map(_._2).sum, s"predicted-pos at $b")
      assert(tp == tail.map(_._3).sum, s"true-pos at $b")
      assert(prec == tp * 1000000 / pp && rec == tp * 1000000 / pos)
      assert(f1 == 2 * tp * 1000000 / (pp + pos), s"f1 identity at $b")
    }
    // mathematical monotonicity: raising the threshold can only shrink
    // the predicted set and the recall
    assert(pr.map(_._2).toSeq == pr.map(_._2).toSeq.sorted.reverse)
    assert(pr.map(_._5).toSeq == pr.map(_._5).toSeq.sorted.reverse)
    // the lowest threshold accepts everything
    assert(pr.head._5 == 1000000L, "bottom row must have full recall")
  }

  test("feature importance equals an exact in-memory gini replay") {
    import spark.implicits._
    // punctuation-free single-space docs so the feature replay is exact:
    // 4 long clean docs (pass), 3 stopword-heavy (fail), 2 short (fail)
    val clean = (1 to 80).map(i => s"tok$i").mkString(" ")
    val stopy = ((1 to 48).map(_ => "the") ++ (1 to 32).map(i => s"s$i")).mkString(" ")
    val short = (1 to 16).map(i => s"q$i").mkString(" ")
    val texts = Seq.tabulate(4)(i => (i + 1L, clean + s" u$i")) ++
      Seq.tabulate(3)(i => (i + 5L, stopy + s" v$i")) ++
      Seq.tabulate(2)(i => (i + 8L, short + s" w$i"))
    docsDf(texts.map(t => (t._1, t._2, "en")))
      .write.mode("overwrite").parquet("/tmp/graft-test-fi/documents.parquet")
    val got = TextOps.mlFeatureImportance(spark, "/tmp/graft-test-fi")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // replay with the operator's integer arithmetic
    def gini(n: Long, p: Long): Long =
      1000000L - ((BigInt(p) * p + BigInt(n - p) * (n - p)) * 1000000 /
        (BigInt(n) * n)).toLong
    val feats = texts.map { case (_, txt) =>
      val ws = txt.split(" ")
      val nTok = ws.length.toLong
      val nStop = ws.count(TextOps.stopwords.contains).toLong
      val pass = (1.0 - nStop.toDouble / nTok) *
        math.min(1.0, nTok / 64.0) >= 0.5
      Map("stopword_ratio" -> nStop * 1000 / nTok,
        "punct_ratio" -> 0L,
        "len_sat" -> math.min(1000L, nTok * 1000 / 64)) -> pass
    }
    val expected = (for {
      f <- Seq("len_sat", "punct_ratio", "stopword_ratio")
      t <- 1L to 9L
      buckets = feats.map { case (m, p) => (math.min(9L, m(f) / 100), p) }
      left = buckets.filter(_._1 < t)
      if left.nonEmpty && buckets.size - left.size >= 1
    } yield {
      val (ln, lp) = (left.size.toLong, left.count(_._2).toLong)
      val (tn, tp) = (buckets.size.toLong, buckets.count(_._2).toLong)
      val (rn, rp) = (tn - ln, tp - lp)
      val drop = gini(tn, tp) -
        ((BigInt(ln) * gini(ln, lp) + BigInt(rn) * gini(rn, rp)) / tn).toLong
      (f, t * 100, ln, rn, drop)
    }).toSet
    assert(got == expected, s"extra=${got -- expected} missing=${expected -- got}")
    // every split's impurity drop is non-negative under the staged floors
    assert(got.forall(_._5 >= 0))
  }

  test("collocations rank the planted phrase first and enforce the support floor") {
    import spark.implicits._
    // "alpha beta" appears 5x and nowhere else; "gam del" only 4x
    // (below the support floor); filler words are all distinct.
    val docs = Seq.tabulate(5) { i =>
      (i + 1L, s"alpha beta f${i}a f${i}b f${i}c", "en")
    } ++ Seq.tabulate(4) { i => (i + 6L, s"gam del g${i}a g${i}b g${i}c", "en") }
    docsDf(docs).write.mode("overwrite")
      .parquet("/tmp/graft-test-coll/documents.parquet")
    val out = TextOps.textCollocations(spark, "/tmp/graft-test-coll")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(out.head._1 == 1L && (out.head._2, out.head._3) == ("alpha", "beta"))
    // T = 5*5 + 4*5 = 45 tokens; pmi_bits = bits(45*5) - bits(5*5)
    assert(out.head._4 == 5L &&
      out.head._5 == (java.lang.Long.toBinaryString(225).length -
        java.lang.Long.toBinaryString(25).length).toLong)
    // below-floor pair excluded; every reported pair met the floor
    assert(!out.exists(r => r._2 == "gam"))
    assert(out.forall(_._4 >= 5L))
  }

  test("tokenize_fertility retrains on a documents part rewritten under a live session") {
    // No refreshByPath after the rewrite: the engine's own caches must
    // notice it. A cached relation left behind by training would be
    // matched by path and serve the pre-rewrite pieces; a word with a
    // character the old corpus lacks then has no segmentation.
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    def partDir(root: String): Path = {
      val d = Paths.get(root, "documents.parquet")
      if (Files.exists(d)) Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      Files.createDirectories(d)
    }
    def fertility(dir: String): Seq[org.apache.spark.sql.Row] =
      TextOps.tokenizeFertility(spark, dir).collect().toSeq
    val live = "/tmp/graft-test-unirw"
    val part = partDir(live).resolve("part-00000.parquet")
    Files.copy(Paths.get(sf, "documents.parquet"), part)
    fertility(live)
    // the variant: every 'e' becomes 'é', a character sf0.001 lacks
    val staged = "/tmp/graft-test-unirw-staged"
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("text", translate(col("text"), "e", "\u00e9")).coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val variant = Files.list(Paths.get(staged)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(variant, part, StandardCopyOption.REPLACE_EXISTING)
    val after = fertility(live)
    // reference: the same bytes in a directory no cache has seen
    val fresh = "/tmp/graft-test-unirw-fresh"
    Files.copy(variant, partDir(fresh).resolve("part-00000.parquet"))
    assert(after == fertility(fresh), "the rewritten part was served stale training state")
    assert(TextOps.tokenizeUnigram(spark, live).filter(col("piece").contains("\u00e9")).count() > 0,
      "the unigram model did not retrain on the rewritten part")
  }

  /** A fresh directory holding `docs` as its documents table, removed
    * after `body`. */
  private def withCorpus[A](docs: Seq[(Long, String, String)])(body: String => A): A = {
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("graft-test-corpus")
    try {
      docsDf(docs).write.parquet(dir.resolve("documents.parquet").toString)
      body(dir.toString)
    } finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  test("a tokenizer retrain on a corpus the session has not trained runs at most 2 actions") {
    // the vocab is collected once and every merge round runs on the
    // driver: one collect, then the face's own write
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSeq
    withCorpus(rows) { dir =>
      val n = Tool.actionsOf(spark)(Tool.runToNoop(spark, dir, "tokenize_bpe")).size
      assert(n <= 2, s"tokenize_bpe ran $n actions on an untrained corpus")
      assert(TextOps.tokenizeBpe(spark, dir).count() == 16)
    }
  }

  test("driver trainers: byte-order ties, early exhaustion and an empty corpus") {
    def bpe(dir: String) = TextOps.tokenizeBpe(spark, dir)
      .select("rank", "left_sym", "right_sym", "merged", "pair_freq")
      .as[(Long, String, String, String, Long)].collect().toSeq
    def wpLefts(dir: String) = TextOps.tokenizeWordpieceTrain(spark, dir)
      .orderBy("rank").select("left_sym").as[String].collect().toSeq
    // U+FF5E sorts before U+1F600 in Spark's (UTF-8 byte) order but
    // after it in String's UTF-16 order; both one-char words tie on
    // their pair with </w> in BPE and in the WordPiece score
    val (bmp, astral) = ("\uFF5E", new String(Character.toChars(0x1F600)))
    val sparkFirst = Seq(astral, bmp).toDF("c").orderBy("c").as[String].first()
    assert(sparkFirst != Seq(astral, bmp).min, "vacuous tie: both orders agree")
    val sparkSecond = if (sparkFirst == bmp) astral else bmp
    withCorpus(Seq((1L, s"$astral $bmp", "en"))) { dir =>
      assert(bpe(dir) == Seq(
        (1L, sparkFirst, "</w>", sparkFirst + "</w>", 1L),
        (2L, sparkSecond, "</w>", sparkSecond + "</w>", 1L)))
      assert(wpLefts(dir) == Seq(sparkFirst, sparkSecond))
      assert(TextOps.trainedBpe(spark, dir)._2 == Seq(sparkFirst, sparkSecond))
    }
    // fully merged after 3 of 16 rounds; "\u0001" is a symbol of its
    // own, which a trim of every char <= U+0020 would drop
    withCorpus(Seq((1L, "ab ab \u0001", "en"))) { dir =>
      assert(bpe(dir) == Seq(
        (1L, "a", "b", "ab", 2L),
        (2L, "ab", "</w>", "ab</w>", 2L),
        (3L, "\u0001", "</w>", "\u0001</w>", 1L)))
      assert(wpLefts(dir).size == 3)
    }
    // an empty corpus trains empty models without a throw
    withCorpus(Seq.empty) { dir =>
      assert(bpe(dir).isEmpty)
      assert(wpLefts(dir).isEmpty)
      assert(TextOps.trainedBpe(spark, dir)._2.isEmpty)
      assert(TextOps.tokenizeWordpiece(spark, dir).count() == 0L)
      assert(TextOps.tokenizeUnigram(spark, dir).count() == 0L)
    }
  }
}
