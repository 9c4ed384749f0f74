package graft

import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** The multi-word mask path of the bitmask Jaccard dedup: the shared
  * testdata's vocabulary fits one word (31 tokens), so this suite builds a
  * synthetic corpus with >64 distinct tokens and checks the general path
  * against a driver-side brute-force Jaccard. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  test("multi-word mask path equals brute force on a 150-token vocabulary") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 150).map(i => f"tok$i%03d")
    // overlapping doc families so pairs above threshold actually exist
    val docs = (0 until 60).map { i =>
      val base = vocab.slice((i % 6) * 20, (i % 6) * 20 + 18)
      val noise = Seq.fill(3)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, (rnd.shuffle(base ++ noise)).mkString(" "), if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")

    val got = Dedup.jaccardBitmask(spark, docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // brute force on the driver
    val sets = docs.collect().map(r => (r.getLong(0),
      r.getString(1).split(" ").filter(_.nonEmpty).toSet, r.getString(2)))
    val expected = (for {
      (ai, as_, al) <- sets; (bi, bs, bl) <- sets
      if al == bl && ai < bi
      j = jaccard(as_, bs) if j >= 0.5
    } yield (ai, bi) -> math.rint(j * 1e4) / 1e4).toMap

    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    expected.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-9, s"$k: ${got(k)} vs $j") }
    assert(expected.nonEmpty, "test corpus must produce similar pairs")
  }

  test("jaccardBitmask equals brute force at t = 0.9 (non-representable threshold, r8 prefix fix)") {
    // t = 0.9 is the regression case for the prefix bound: IEEE
    // 1.0 − 0.9 = 0.0999…98, so the old ⌊(1−t)·n⌋+1 form computed a
    // 1-token prefix for 10-token docs where the lemma requires 2 —
    // silently dropping containment pairs whose rarest token is the
    // unshared one. Build exactly that shape: 10-token docs sharing 9
    // tokens (J = 9/10 ≥ 0.9), distinct rare tenth tokens.
    // containment pairs: a = 9 shared + 1 rare unshared (n = 10),
    // b = the 9 shared (n = 9) ⇒ J = 9/10 = 0.9 exactly; a's rarest
    // token is the UNSHARED one, so a 1-token prefix can never collide
    val shared = (0 until 9).map(i => f"s$i%02d")
    val docs = (0 until 8).flatMap { fam =>
      val famShared = shared.map(t => s"f$fam$t")
      Seq(
        (fam * 2L, (famShared :+ s"rare$fam").mkString(" "), "en"),
        (fam * 2L + 1, famShared.mkString(" "), "en"))
    }.toDF("doc_id", "text", "lang")
    val got = Dedup.jaccardBitmask(spark, docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.collect().map(r => (r.getLong(0),
      r.getString(1).split(" ").filter(_.nonEmpty).toSet))
    val expected = (for {
      (ai, as_) <- sets; (bi, bs) <- sets
      if ai < bi && jaccard(as_, bs) >= 0.9
    } yield (ai, bi)).toSet
    assert(expected.size == 8, "fixture must produce one ≥0.9 pair per family")
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("RDD zipWithIndex id assignment equals the window route (large-vocab path)") {
    val toks = (0 until 500).map(i => f"w$i%04d")
    val distinctTok = new scala.util.Random(3).shuffle(toks).toDF("token")
      .repartition(7) // spread over partitions so zipWithIndex offsets matter
      .distinct()
    val viaWindow = Dedup.assignTokenIds(distinctTok, viaRdd = false)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaRdd = Dedup.assignTokenIds(distinctTok, viaRdd = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaWindow == viaRdd)
    // dense lexicographic bijection 0..V-1
    assert(viaRdd.values.toSeq.sorted == (0L until 500L))
    assert(toks.sorted.zipWithIndex.forall { case (t, i) => viaRdd(t) == i })
  }

  test("RDD id assignment matches the window route beyond the BMP (emoji tokens)") {
    // U+FFFD (BMP, UTF-8 EF BF BD) vs U+1F600 (surrogate pair D83D DE00,
    // UTF-8 F0 9F 98 80): UTF-16 code-unit order puts the emoji FIRST
    // (0xD83D < 0xFFFD) while UTF-8 binary order — what the window route's
    // ORDER BY uses — puts it LAST (0xF0 > 0xEF). A natural-String sortBy
    // would diverge here; the bytewise route must not.
    val toks = Seq("a", "😀", "�", "z", "😁", "é")
      .toDF("token").repartition(3).distinct()
    val viaWindow = Dedup.assignTokenIds(toks, viaRdd = false)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaRdd = Dedup.assignTokenIds(toks, viaRdd = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaRdd == viaWindow, s"rdd=$viaRdd window=$viaWindow")
  }

  test("connected components match driver-side union-find") {
    val pairs = graft.queries.Dedup.lshVerified(spark, Tables.documents(spark, sf0001), 0.5)
    val got = graft.queries.Dedup.clustersPointerJump(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // brute force union-find on the same pairs
    val edges = pairs.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    assert(got.keySet == expected.keySet)
    // same partition into components, with min-id canonical labels
    expected.foreach { case (id, root) => assert(got(id) == got(root), s"$id") }
    got.foreach { case (id, c) => assert(c <= id && got(c) == c, s"$id -> $c") }
    val gotComponents = got.groupBy(_._2).values.map(_.keySet).toSet
    val expComponents = expected.groupBy(_._2).values.map(_.keySet).toSet
    assert(gotComponents == expComponents)
  }

  test("pointer jumping converges on a 1024-node chain (diameter >> round cap)") {
    // plain propagation moves the min label one hop per round, so a chain
    // this long cannot converge inside the 50-round cap — pointer jumping
    // must (O(log n) rounds).
    val chain = (0L until 1023L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = graft.queries.Dedup.clustersPointerJump(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 1024)
    assert(labels.values.forall(_ == 0L), s"non-root labels: ${labels.filter(_._2 != 0L).take(5)}")
  }

  test("pointer jumping matches union-find on random graph topologies") {
    val rnd = new scala.util.Random(42)
    // three seeded random graphs: sparse, dense, and forest-of-stars
    val graphs = Seq(
      (0 until 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)),
      (0 until 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)),
      (0 until 50).map(i => ((i % 7).toLong * 100, (i + 10).toLong)))
    graphs.zipWithIndex.foreach { case (raw, gi) =>
      val edges = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val pairs = edges.toDF("a_id", "b_id")
      val got = graft.queries.Dedup.clustersPointerJump(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      assert(got == expected, s"graph $gi: ${got.toSet.diff(expected.toSet).take(5)}")
    }
  }

  test("SimHash band join finds every hamming<=3 pair (pigeonhole: recall = 100%)") {
    val sig = graft.queries.Llm.queries("llm_dedup_simhash")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exhaustive pairs on the driver — the ground truth the equi-join must hit
    val expected = (for {
      (ai, sa) <- sig; (bi, sb) <- sig if ai < bi
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ai, bi, h)).toSet
    val got = graft.queries.Llm.queries("llm_dedup_simhash_lsh")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty, "fixture must contain hamming<=3 pairs")
  }

  test("jaccardBitmask reports a strict superset of lshVerified's same-lang pairs (no gate, no recall loss)") {
    // r8: the old degrade-to-lshVerified gate silently swapped semantics
    // at a row threshold (caught by the 100× probe). The exact prefix
    // route must dominate the banded route on its own blocking: every
    // same-lang lshVerified pair is an exact pair, and exact may hold
    // more (banding recall < 1).
    val docs = Tables.documents(spark, sf0001)
    val langOf = docs.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val exact = Dedup.jaccardBitmask(spark, docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lshSameLang = Dedup.lshVerified(spark, docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => langOf(a) == langOf(b) }.toSet
    assert(lshSameLang.subsetOf(exact),
      s"banded pairs missing from exact: ${(lshSameLang -- exact).take(5)}")
    assert(exact.nonEmpty)
  }

  test("simhash pair routes agree exactly above and below the gate") {
    val under = graft.queries.Llm.simhashPairs(spark, sf0001, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val over = graft.queries.Llm.simhashPairs(spark, sf0001, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(over == under,
      s"missing=${(under -- over).take(5)} extra=${(over -- under).take(5)}")
    assert(under.nonEmpty)
  }

  test("blocked embed/topk routes report exactly the same-cell subset") {
    val cells = Tables.embeddings(spark, sf0001).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> {
        val e = r.getSeq[Float](1)
        (0 until 8).map(i => if (e(i) > 0f) 1L << i else 0L).sum
      }).toMap
    val exact = graft.queries.Llm.dedupEmbed(spark, sf0001, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = graft.queries.Llm.dedupEmbed(spark, sf0001, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = exact.filter { case (a, b, _) => cells(a) == cells(b) }
    assert(blocked == expected)

    val topBlocked = graft.queries.Llm.cosineTopK(spark, sf0001, 0).collect()
    assert(topBlocked.nonEmpty)
    assert(topBlocked.forall(r => cells(r.getLong(0)) == cells(r.getLong(1))))
  }

  test("incremental batch-vs-corpus dedup equals the full self-join restricted to batch pairs") {
    // corpus ids all precede batch ids (split by id), so a full-corpus
    // lshVerified pair involving the batch always has its batch doc on
    // the b side; the incremental routine reports it as (new, prior).
    val docs = Tables.documents(spark, sf0001)
    val split = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0) - 99
    val full = Dedup.lshVerified(spark, docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a >= split || b >= split }
      .map { case (a, b, j) => (math.max(a, b), math.min(a, b), j) }.toSet
    val inc = Dedup.lshVerifiedIncremental(spark,
        corpus = docs.where(col("doc_id") < split),
        batch = docs.where(col("doc_id") >= split), threshold = 0.9)
      .collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.max(a, b), math.min(a, b), r.getDouble(2))
      }.toSet
    assert(inc == full, "incremental pairs + jacc must equal the filtered self-join")
    assert(inc.nonEmpty, "fixture must produce batch duplicates")

    // the candidate-scoped mask dictionary (gate=0 forces the large-corpus
    // route) must not change a single pair or jacc value
    val scoped = Dedup.lshVerifiedIncrementalWithBands(spark,
        corpus = docs.where(col("doc_id") < split),
        batch = docs.where(col("doc_id") >= split), threshold = 0.9, gate = 0L)._1
      .collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.max(a, b), math.min(a, b), r.getDouble(2))
      }.toSet
    assert(scoped == full, "mask scoping must be invisible in the output")

    // stored-band-index route: write the index once, probe it — identical
    // pairs and jacc to the self-computing overload
    val idxDir = tmpDir("band_index")
    val corpus = docs.where(col("doc_id") < split)
    Dedup.writeBandIndex(corpus, idxDir)
    val stored = Dedup.lshVerifiedIncremental(spark, corpus,
        spark.read.parquet(idxDir), docs.where(col("doc_id") >= split), 0.9)
      .collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.max(a, b), math.min(a, b), r.getDouble(2))
      }.toSet
    assert(stored == full, "the stored index must be a drop-in for computed bands")
  }

  test("single-word fast path still serves the shared corpus") {
    // vocabulary 31 => single-long mask plan (no zip_with in the plan)
    val df = Dedup.jaccardBitmask(spark, Tables.documents(spark, sf0001), 0.5)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("zip_with"), "expected the single-word path")
    df.count() // executes
  }

  test("llm_lsh_recall: measured S-curve rises, captures bounded by truth, all deciles live") {
    val rows = SparkEntry.queries("llm_lsh_recall")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // threshold-0.5 truth yields exactly the 0.5..0.9 deciles on this corpus
    assert(rows.keySet == Set(5L, 6L, 7L, 8L, 9L), rows.keySet.toString)
    rows.values.foreach { case (t, c, rm, ra) =>
      assert(c <= t, "captured pairs cannot exceed true pairs")
      assert(rm >= 0.0 && rm <= 1.0 && ra >= 0.0 && ra <= 1.0)
    }
    // the S-curve must actually rise across the measured range — a broken
    // banding (e.g. constant band keys) would flatten it at 1.0, a broken
    // join at 0.0
    assert(rows(9L)._3 > rows(5L)._3 + 0.3,
      s"no S-curve rise: bucket5=${rows(5L)._3} bucket9=${rows(9L)._3}")
    // measured stays in the analytic curve's neighborhood (same banding)
    rows.foreach { case (b, (_, _, rm, ra)) =>
      assert(math.abs(rm - ra) < 0.15, s"bucket $b: measured $rm vs analytic $ra")
    }
  }

  test("OPH signature: one-hash bins, rotation densification, equal sets equal sigs") {
    def h60(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    // single-token doc: one bin real, seven borrowed at exact k·C offsets
    val single = Seq((1L, "en", "lonely")).toDF("doc_id", "lang", "token")
    val sl = Dedup.ophSlots(single).collect().head
    val hv = h60("lonely")
    val bin = (hv % 8).toInt
    (0 until 8).foreach { j =>
      val k = ((bin - j) % 8 + 8) % 8
      assert(sl.getLong(1 + j) == hv + k * Dedup.OphC,
        s"slot $j: borrow distance $k wrong")
    }
    // equal token SETS (different order/duplication) => identical signature
    val toks = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val two = (toks.map((2L, "en", _)) ++ toks.reverse.map((3L, "en", _)))
      .toDF("doc_id", "lang", "token")
    val sigs = Dedup.ophSlots(two).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    assert(sigs(2L) == sigs(3L), "equal sets must produce equal signatures")
    // driver recompute of the full bin/min/borrow pipeline
    val hs = toks.map(h60)
    val byBin = hs.groupBy(h => (h % 8).toInt).view.mapValues(_.min).toMap
    val expect = (0 until 8).map { j =>
      val k = (0 until 8).find(k2 => byBin.contains((j + k2) % 8)).get
      byBin((j + k) % 8) + k * Dedup.OphC
    }
    assert(sigs(2L) == expect, s"${sigs(2L)} vs $expect")
    // a different set diverges in at least one slot
    val other = Seq("alpha", "beta", "gamma", "delta", "epsilon", "eta")
      .map((4L, "en", _)).toDF("doc_id", "lang", "token")
    val sig4 = Dedup.ophSlots(other).collect()
      .map(r => (1 to 8).map(r.getLong).toSeq).head
    assert(sig4 != sigs(2L))
  }

  test("lshVerified stages nothing at 0.9 and exactly its band and mask blocks at 0.5") {
    // the staging rule: only the early-dedup (< 0.7) route reads its band
    // and mask tables twice, so only it stages them
    val docs = Tables.documents(spark, sf0001)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val late = Dedup.lshVerified(spark, docs, 0.9)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty)
    assert(checkpointIds(late).isEmpty)
    val early = Dedup.lshVerified(spark, docs, 0.5)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 2, s"expected the band and mask blocks, got $added")
    assert(checkpointIds(early) == added)
    graft.ops.Checkpoints.freeAll(early)
  }
}
