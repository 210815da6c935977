package graft.operators

import graft.{Sessions, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/parity gates for the approximate dedup operators (SURVEY §2
  * #23/#24): MinHash-LSH must recover the exact n-gram Jaccard pairs at
  * the working threshold, and the SimHash chunk-join must equal the
  * brute-force Hamming-distance pairs (the 4×16 banding is lossless for
  * Hamming ≤ 3 by pigeonhole).
  */
class DedupSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("embedding-LSH params hold the recall floor across corpus decades") {
    // the r10 RecallProfile falsifier: adaptive BITS alone (r8-r9)
    // kept buckets tidy while recall collapsed 0.951 -> 0.376 over one
    // decade. The (bits, tables) choice is a pure function; pin the
    // floor as the theorem it is: recall(b, T) = 1 - (1 - q1^b)^T.
    val (threshold, floor, maxT) = (0.4, 0.85, 128)
    val q1 = 1.0 - math.acos(threshold) / math.Pi
    for (n <- Seq(2000L, 20000L, 200000L, 2000000L, 2000000000L)) {
      val (b, t) = Dedup.lshParams(n, threshold, 16, 4, 128, floor, maxT)
      val recall = 1.0 - math.pow(1.0 - math.pow(q1, b), t)
      assert(t <= maxT && b >= 4, s"n=$n gave (bits=$b, tables=$t)")
      assert(recall >= floor - 1e-9,
        s"n=$n: (bits=$b, tables=$t) has theoretical recall $recall < $floor")
    }
    // a caller-supplied bits ABOVE the recall-feasible cap must be
    // clamped, not honored (ADVICE r10: max(bits, cap) made the floor
    // silently unreachable — p1 = q1^20 ≈ 1e-4, 128 tables nowhere
    // near enough). recallFloor is the contract; bits is only a floor.
    for (n <- Seq(2000L, 2000000L)) {
      val (b20, t20) = Dedup.lshParams(n, threshold, 16, 20, 128, floor, maxT)
      val recall20 = 1.0 - math.pow(1.0 - math.pow(q1, b20), t20)
      assert(recall20 >= floor - 1e-9,
        s"bits=20 request, n=$n: (bits=$b20, tables=$t20) recall $recall20 < $floor")
    }
    // small corpora keep the r9 plan exactly (oracle/bench continuity)
    assert(Dedup.lshParams(2000L, 0.4, 16, 4, 128, floor, maxT) == (4, 16))
    // the measured sf1/sf10 shapes
    assert(Dedup.lshParams(20000L, 0.4, 16, 4, 128, floor, maxT) == (8, 75))
    assert(Dedup.lshParams(200000L, 0.4, 16, 4, 128, floor, maxT) == (9, 119))
  }

  test("minhash-LSH recovers the exact jaccard>=0.8 pairs (recall 1.0 here)") {
    val docs = Tables.documents(spark, sfDir)
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, threshold = 0.8))
    val lsh = pairSet(Dedup.minhashLshPairs(docs, threshold = 0.8))
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    // post-verify precision is exact, so LSH ⊆ exact; near-dup pairs in
    // this corpus sit at j≈0.99 where 32-band/4-row miss prob < 1e-40
    assert(lsh == exact, s"missed: ${exact -- lsh}, extra: ${lsh -- exact}")
  }

  test("minhash-LSH on random dense corpora: exact precision, deterministic copy recall") {
    // Seeded randomized gate for the verify path (SortedLongSetAgg +
    // SortedIntersectCount + the r12 hashed-index dedup-drop): on
    // tiny-vocabulary corpora every bucket is crowded and in-document
    // shingle repeats are everywhere. Two properties hold
    // deterministically regardless of the LSH probability curve:
    // (1) PRECISION — every emitted pair's jaccard must EQUAL the
    // scalar replica's value and clear the threshold (the verify is
    // exact, so got ⊆ replica); (2) planted exact copies (identical
    // shingle SETS → identical signatures → the same bucket in every
    // band) must ALWAYS be found at jaccard 1.0.
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 4) {
      val vocab = 4 + rnd.nextInt(4)
      val base = (1L to (12 + rnd.nextInt(12)).toLong).map { id =>
        id -> (0 until rnd.nextInt(16)).map(_ => s"m${rnd.nextInt(vocab)}").mkString(" ")
      }
      val longDocs = base.filter(_._2.split(" ").length >= 3)
      val copies = (0 until 3).map { i =>
        (500L + i) -> longDocs(rnd.nextInt(longDocs.size))._2
      }
      val docs = base ++ copies
      val t = Seq(0.5, 0.8)(rnd.nextInt(2))
      val sets = docs.map { case (id, txt) =>
        val toks = txt.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
        id -> (if (toks.length < 3) Set.empty[String]
               else toks.sliding(3).map(_.mkString(" ")).toSet)
      }.toMap
      val ids = sets.keys.toArray.sorted
      val replica = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        a = sets(ids(i)); b = sets(ids(j))
        c = (a & b).size
        if c > 0
        jac = c.toDouble / (a.size + b.size - c).toDouble
        if jac >= t
      } yield ((ids(i), ids(j)), jac)).toMap
      val got = Dedup.minhashLshPairs(docs.toDF("doc_id", "text"), threshold = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val bad = got.filter { case (k, v) => !replica.get(k).contains(v) }
      assert(bad.isEmpty,
        s"round=$round t=$t pairs emitted that the replica rejects or values drift: ${bad.take(5)}")
      val mustFind = (for {
        (cid, ctext) <- copies
        (oid, _) <- docs
        if oid != cid && sets(oid) == sets(cid) && sets(cid).nonEmpty
      } yield (math.min(cid, oid), math.max(cid, oid))).toSet
      assert(mustFind.forall(got.contains),
        s"round=$round identical-set pairs missed: ${mustFind.filterNot(got.contains).take(5)}")
    }
  }

  test("simhash chunk-join equals brute-force hamming<=3 pairs") {
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.simhashes(Dedup.mixedShingleIndex(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, ha) <- sh
      (idb, hb) <- sh
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = 3)
    val gotPairs = pairSet(got)
    assert(gotPairs == brute, s"missed: ${brute -- gotPairs}, extra: ${gotPairs -- brute}")
    assert(brute.nonEmpty, "planted near-dups should collide in simhash")
  }

  test("ngram-jaccard prefix filter is lossless vs driver-side brute force") {
    // r13 guard for the PPJoin prefix rewrite: every jaccard>=t pair of
    // the real corpus must survive candidate generation. The reference
    // is an independent driver-side all-pairs jaccard over string
    // shingle sets built with the oracle's exact normalization; run at
    // TWO thresholds so the prefix-length arithmetic (m - ceil(t*na) +
    // slack) is exercised at different prefix fractions.
    val rows = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sets: Map[Long, Set[String]] = rows.map { case (id, text) =>
      val toks = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      id -> (if (toks.length < 3) Set.empty[String]
             else toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val ids = sets.keys.toArray.sorted
    for (t <- Seq(0.8, 0.5)) {
      val brute = (for {
        i <- ids.indices.iterator
        j <- (i + 1) until ids.length
        a = sets(ids(i)); b = sets(ids(j))
        c = (a & b).size
        if c > 0 && c.toDouble / (a.size + b.size - c).toDouble >= t
      } yield (ids(i), ids(j))).toSet
      val got = pairSet(Dedup.ngramJaccardPairs(Tables.documents(spark, sfDir), threshold = t))
      assert(got == brute,
        s"t=$t missed: ${brute -- got}, extra: ${got -- brute}")
      assert(brute.nonEmpty, s"t=$t: corpus should contain planted near-dups")
    }
  }

  test("ngram-jaccard canonicalization expands dup groups exactly (incl. capped within-group)") {
    import spark.implicits._
    // Exact copies pair through the one prefix join like any other
    // docs: duplicate groups that only match after normalization
    // (case/whitespace variants), a near-dup CROSS two groups, a df cap
    // that pushes a within-group jaccard to m/(2n-m) < 1 (and below
    // threshold for one group), and sub-3-token docs that have no
    // shingles at all. Reference is a driver-side brute force replaying
    // the oracle's cap semantics: df over ALL docs, common count over
    // capped shingles, sizes full.
    val words = (0 until 30).map(i => s"u$i")
    val base = words.mkString(" ")
    val baseVar = words.mkString("  ").toUpperCase // same normalized text
    val near = (words.drop(1) :+ "x1" :+ "x2").mkString(" ") // near-dup of base
    // hot: 8 docs sharing shingle stream "h0 h1 h2 h3" (df=10 with the
    // pair below -> capped at 5); the capped group: two identical docs
    // whose text is MOSTLY hot shingles plus a rare tail
    val hotBody = "h0 h1 h2 h3"
    val docs = (
      (0 until 8).map(i => (300L + i, s"$hotBody filler$i a b")) ++
      Seq(
        (1L, base), (2L, baseVar), (3L, base),       // exact-dup group of 3
        (10L, near),                                  // near-dup vs group {1,2,3}
        (20L, s"$hotBody rare20a rare20b"),           // identical pair whose
        (21L, s"$hotBody rare20a rare20b"),           // capped jaccard drops
        (30L, "tiny doc"), (31L, "tiny doc")          // <3 tokens: no shingles
      )).toDF("doc_id", "text")
    val cap = 5
    // driver-side brute force with cap replay
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = rows.map { case (id, t) =>
      val toks = t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      id -> (if (toks.length < 3) Set.empty[String]
             else toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val df = sets.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val ids = sets.keys.toArray.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j))
      c = (a & b).count(s => df(s) <= cap)
      if c > 0
      jac = c.toDouble / (a.size + b.size - c).toDouble
      if jac >= 0.8
    } yield ((ids(i), ids(j)), jac)).toMap
    val got = Dedup.ngramJaccardPairs(docs, threshold = 0.8, maxShingleDf = Some(cap))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == brute,
      s"missed: ${brute.keySet -- got.keySet}, extra: ${got.keySet -- brute.keySet}, " +
        s"valueDiff: ${brute.filter { case (k, v) => got.get(k).exists(_ != v) }}")
    // the scenario really covers its cases
    assert(brute.contains((1L, 3L)) && brute.contains((1L, 2L)), "exact-dup group pairs")
    assert(brute.contains((1L, 10L)) || brute.contains((2L, 10L)), "cross-group near-dup")
    assert(!brute.contains((20L, 21L)),
      "capped within-group pair should fall below threshold (m/(2n-m))")
    assert(!got.keySet.exists { case (a, b) => a == 30L || a == 31L || b == 30L || b == 31L },
      "shingle-less docs never pair (even as an identical-text group)")
  }

  test("ngram-jaccard df cap keeps planted near-dups, excludes hot-shingle pairs") {
    import spark.implicits._
    // 20 junk docs all sharing one ultra-common shingle ("aaa bbb ccc")
    // but nothing else; two near-dup docs share a 30-word prefix plus
    // the hot shingle. With cap=5 the hot shingle leaves the pair join:
    // junk docs generate NO candidate pair at all (the d² blowup is
    // gone), while the near-dups stay above threshold via their rare
    // shingles (30 joinable common / 33 union = 0.909; uncapped 31/32).
    val words = (0 until 30).map(i => s"w$i")
    val nearA = (words :+ "aaa" :+ "bbb" :+ "ccc").mkString(" ")
    val nearB = (words :+ "aaa" :+ "bbb" :+ "ccc" :+ "zzz").mkString(" ")
    val junk = (0 until 20).map(i => (100L + i, s"junk$i a aaa bbb ccc junk${i}b"))
    val docs = (junk :+ (1L, nearA) :+ (2L, nearB)).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, threshold = 0.8, maxShingleDf = Some(5))
    val pairs = pairSet(capped)
    assert(pairs.contains((1L, 2L)), s"planted near-dup lost under cap: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 100L || b >= 100L },
      s"hot-shingle junk docs must not pair: $pairs")
    // and the cap only shrank the candidate space — uncapped finds the
    // same surviving pair (with full-count jaccard)
    assert(pairSet(Dedup.ngramJaccardPairs(docs, threshold = 0.8)).contains((1L, 2L)))
  }

  test("hot LSH/simhash buckets are capped without losing non-hot pairs") {
    import org.apache.spark.sql.Observation
    import spark.implicits._
    // 500 identical short docs form one degenerate bucket per band
    // (identical signature) — the adversarial hot bucket. A separate
    // pair of identical long docs must still be found: its buckets hold
    // 2 members, far under the cap. The dropped hot group is pure junk
    // for NEAR-dup purposes — exact dedup (#21) catches it outright.
    val hotText = "the quick brown fox jumps over the lazy dog"
    val longText = ("unique alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
    val docs = ((0 until 500).map(i => (1000L + i, hotText)) ++
      Seq((1L, longText), (2L, longText))).toDF("doc_id", "text")

    val mhObs = Observation("mh_drops")
    val mh = Dedup.minhashLshPairs(docs, maxBucketSize = 100, dropObs = Some(mhObs))
    val mhPairs = pairSet(mh)
    assert(mhPairs == Set((1L, 2L)), s"expected only the planted pair, got $mhPairs")
    assert(mhObs.get("dropped_memberships").asInstanceOf[Long] > 0L,
      "hot bucket should register dropped memberships")

    val shObs = Observation("sh_drops")
    val sh = Dedup.simhashPairs(docs, maxBucketSize = 100, dropObs = Some(shObs))
    val shPairs = pairSet(sh)
    assert(shPairs == Set((1L, 2L)), s"expected only the planted pair, got $shPairs")
    assert(shObs.get("dropped_memberships").asInstanceOf[Long] > 0L,
      "hot chunk should register dropped memberships")
  }

  test("wired dedup entries publish drop observability (zero on the normal corpus)") {
    // the SparkEntry wiring threads a real Observation: after an action,
    // reportedDrops must surface the count — 0 on the benign corpus (the
    // adversarial non-zero side is covered by the hot-bucket test above)
    for (q <- Seq(
        "q_dedup_minhash_lsh", "q_dedup_simhash", "q_dedup_embedding_lsh", "q_dedup_embedding_ivf")) {
      graft.SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      assert(graft.SparkEntry.reportedDrops(q).contains(0L),
        s"$q should observe zero drops on the normal corpus")
    }
  }

  test("reportedDrops on a wired dedup query built but never run is None within its bound") {
    graft.SparkEntry.queries("q_dedup_simhash")(spark, sfDir)
    val t0 = System.nanoTime()
    assert(graft.SparkEntry.reportedDrops("q_dedup_simhash").isEmpty)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 5.0, s"reportedDrops waited $secs s")
  }

  test("embedding LSH near-dups: exact precision, recall floor vs the exact operator") {
    val emb = Tables.embeddings(spark, sfDir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id_a", "vec_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingNearDupsExact(emb))
    val lsh = pairs(Dedup.embeddingNearDupsLsh(emb))
    assert(exact.nonEmpty)
    // post-verify precision is exact: same threshold + same cosine kernel
    assert((lsh -- exact).isEmpty, s"impossible extra pairs: ${(lsh -- exact).take(3)}")
    val recall = exact.count(lsh).toDouble / exact.size
    info(s"embedding LSH recall = $recall")
    // measured 0.966 (sf0.01) / 0.951 (sf0.1) at 16 tables x 4 bits
    assert(recall >= 0.85, s"recall $recall below 0.85 — bucketing degraded")
  }

  test("embedding IVF near-dups: exact precision, recall floor vs the exact operator") {
    val emb = Tables.embeddings(spark, sfDir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id_a", "vec_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingNearDupsExact(emb))
    val ivf = pairs(Dedup.embeddingNearDupsIvf(emb))
    assert(exact.nonEmpty)
    // post-verify precision is exact: same threshold + same cosine kernel
    assert((ivf -- exact).isEmpty, s"impossible extra pairs: ${(ivf -- exact).take(3)}")
    val recall = exact.count(ivf).toDouble / exact.size
    info(s"embedding IVF recall = $recall")
    // measured 0.99+ at sf0.01/sf0.1 with the default probes; the
    // per-decade decay against the probe count is profiled in SCALING_r16
    assert(recall >= 0.9, s"recall $recall below 0.9 — cell assignment degraded")
  }

  test("embedding IVF on random vectors: value-exact precision, identical vectors always found") {
    // The IVF twin of the LSH randomized gate below: same adversarial
    // shapes (tiny magnitudes, duplicates, zero vectors). Identical
    // non-zero vectors have identical centroid scores, hence identical
    // probe sets — their 1.0 pairs are always co-binned and found.
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 3) {
      val dim = 6 + rnd.nextInt(4)
      val n = 40 + rnd.nextInt(40)
      val base = (1L to n.toLong).map { id =>
        val scale = Seq(1.0, 1e-6, 37.5)(rnd.nextInt(3))
        id -> Seq.fill(dim)((rnd.nextDouble() * 2 - 1) * scale)
      }
      val dups = (0 until 4).map(i => (900L + i) -> base(rnd.nextInt(base.size))._2)
      val zeros = Seq(980L -> Seq.fill(dim)(0.0))
      val vecs = base ++ dups ++ zeros
      val df = vecs.toDF("vec_id", "v0")
        .select(col("vec_id"), col("v0").cast("array<double>").as("embedding"))
      def valued(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val exact = valued(Dedup.embeddingNearDupsExact(df))
      val ivf = valued(Dedup.embeddingNearDupsIvf(df))
      val bad = ivf.filter { case (k, v) => !exact.get(k).contains(v) }
      assert(bad.isEmpty, s"round=$round IVF pairs absent from exact or cosine drift: ${bad.take(5)}")
      val mustFind = (for {
        (did, dv) <- dups
        (oid, ov) <- vecs
        if oid != did && ov == dv && ov.exists(_ != 0.0)
      } yield (math.min(did, oid), math.max(did, oid))).toSet
      assert(mustFind.forall(ivf.contains),
        s"round=$round identical-vector pairs missed: ${mustFind.filterNot(ivf.contains).take(5)}")
      assert(!ivf.keySet.exists(k => k._1 == 980L || k._2 == 980L), "zero vector must pair with nothing")
    }
  }

  test("embedding LSH on random vectors: value-exact precision, identical vectors always found") {
    // Seeded randomized gate for the r13 quantized bucket path, at
    // shapes the real corpus lacks: tiny-magnitude vectors (int16
    // scale underflow territory), negative coordinates, exact
    // duplicates, and zero vectors. Deterministic properties only:
    // (1) every LSH pair appears in the exact operator's output with a
    // BIT-IDENTICAL cosine (both paths end in the one shared
    // cosine-verify kernel over full-precision vectors — any drift
    // means the quantized prefilter admitted a pair the verify scored
    // differently, or dropped precision); (2) identical non-zero
    // vectors hash to the same bucket in every table, so their 1.0
    // pairs are always found; (3) zero vectors pair with nothing.
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 3) {
      val dim = 6 + rnd.nextInt(4)
      val n = 40 + rnd.nextInt(40)
      val base = (1L to n.toLong).map { id =>
        val scale = Seq(1.0, 1e-6, 37.5)(rnd.nextInt(3))
        id -> Seq.fill(dim)((rnd.nextDouble() * 2 - 1) * scale)
      }
      val dups = (0 until 4).map(i => (900L + i) -> base(rnd.nextInt(base.size))._2)
      val zeros = Seq(980L -> Seq.fill(dim)(0.0))
      val vecs = base ++ dups ++ zeros
      val df = vecs.toDF("vec_id", "v0")
        .select(col("vec_id"), col("v0").cast("array<double>").as("embedding"))
      def valued(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val exact = valued(Dedup.embeddingNearDupsExact(df))
      val lsh = valued(Dedup.embeddingNearDupsLsh(df))
      val bad = lsh.filter { case (k, v) => !exact.get(k).contains(v) }
      assert(bad.isEmpty, s"round=$round LSH pairs absent from exact or cosine drift: ${bad.take(5)}")
      val mustFind = (for {
        (did, dv) <- dups
        (oid, ov) <- vecs
        if oid != did && ov == dv && ov.exists(_ != 0.0)
      } yield (math.min(did, oid), math.max(did, oid))).toSet
      assert(mustFind.forall(lsh.contains),
        s"round=$round identical-vector pairs missed: ${mustFind.filterNot(lsh.contains).take(5)}")
      assert(!lsh.keySet.exists(k => k._1 == 980L || k._2 == 980L), "zero vector must pair with nothing")
    }
  }

  test("exact dedup groups are self-consistent") {
    val d = Dedup.exactDups(Tables.documents(spark, sfDir))
    assert(d.filter(col("group_size") < 1).count() == 0)
    assert(d.filter(col("is_canonical") && col("doc_id") =!= col("canonical_id")).count() == 0)
    // every group has exactly one canonical row
    val bad = d.groupBy("fp_md5")
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("n_canon"))
      .filter(col("n_canon") =!= 1)
    assert(bad.count() == 0)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val e = Dedup.embeddingNearDupsExact(Tables.embeddings(spark, sfDir), threshold = 0.4)
    val rows = e.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.4))
  }

  test("span dedup keeps first occurrence, strips later copies, unions overlaps") {
    import spark.implicits._
    def toks(n: Int, p: String) = (0 until n).map(i => s"$p$i").mkString(" ")
    val boiler = toks(10, "b") // a 10-token boilerplate block (> k = 8)
    val docs = Seq(
      (1L, s"${toks(5, "u")} $boiler"),        // first occurrence — canonical
      (2L, s"$boiler ${toks(5, "v")}"),        // later copy — stripped
      (3L, toks(6, "w")),                      // shorter than k: untouched
      (4L, boiler)                             // fully duplicated — empty row
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((s"${toks(5, "u")} $boiler", 15L, 0L)), s"canonical mutated: ${out(1L)}")
    // doc 2: all 10 boilerplate tokens are covered by the union of its
    // three non-canonical windows (positions 0..2 each spanning 8)
    assert(out(2L) == ((toks(5, "v"), 5L, 10L)), s"copy not stripped: ${out(2L)}")
    assert(out(3L) == ((toks(6, "w"), 6L, 0L)), s"short doc mutated: ${out(3L)}")
    assert(out(4L) == (("", 0L, 10L)), s"full dup should empty, not vanish: ${out(4L)}")
  }

  test("span dedup survives doc ids at and above 2^31 (struct canon, no packed-BIGINT overflow)") {
    import spark.implicits._
    val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
    // Under the old doc_id*2^32+pos packing these ids overflow Long and
    // ANSI mode throws at exactly the corpus size the operator targets.
    val lo = Int.MaxValue.toLong + 1          // 2^31
    val hi = Long.MaxValue / 2 + 17           // far past any packable range
    val docs = Seq(
      (lo, s"u0 u1 $boiler"),                 // earliest doc ⇒ canonical
      (hi, boiler)                            // later copy — stripped empty
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(lo) == ((s"u0 u1 $boiler", 12L, 0L)), s"canonical mutated: ${out(lo)}")
    assert(out(hi) == (("", 0L, 10L)), s"huge-id copy should empty: ${out(hi)}")
  }

  test("span dedup removes within-document repeats too") {
    import spark.implicits._
    val span = (0 until 8).map(i => s"s$i").mkString(" ")
    val docs = Seq((7L, s"$span x $span")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, k = 8).collect().head
    assert(out.getString(1) == s"$span x", s"second in-doc copy should go: $out")
    assert(out.getLong(2) == 9L && out.getLong(3) == 8L)
  }

  test("IVF byte gate degrades nCells at production dim without losing correctness") {
    // dim-768 (real-world embedding width, vs the testdata's 64) with a
    // deliberately tiny centroid-matrix budget: the demand side asks
    // for ~700 cells (cellFactor 50 on 200 vectors) but 32 KB / (8 B x
    // 768) affords ~5, so the gate must DEGRADE to the minCells floor
    // rather than refuse or ship a budget-busting matrix — and the
    // degraded index must still be value-exact vs the exact operator
    // and still find identical-vector pairs (fewer cells only raises
    // per-cell population; recall can only improve).
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val dim = 768
    val base = (1L to 200L).map(id => id -> Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    val dups = (0 until 3).map(i => (900L + i) -> base(rnd.nextInt(base.size))._2)
    val df = (base ++ dups).toDF("vec_id", "v0")
      .select(col("vec_id"), col("v0").cast("array<double>").as("embedding"))
    def valued(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = valued(Dedup.embeddingNearDupsExact(df))
    val ivf = valued(Dedup.embeddingNearDupsIvf(
      df, cellFactor = 50.0, maxCentroidBytes = 32L << 10))
    val bad = ivf.filter { case (k, v) => !exact.get(k).contains(v) }
    assert(bad.isEmpty, s"degraded-index pairs absent from exact or cosine drift: ${bad.take(5)}")
    val mustFind = dups.map { case (did, dv) =>
      val oid = base.find(_._2 == dv).get._1
      (math.min(did, oid), math.max(did, oid))
    }.toSet
    assert(mustFind.forall(ivf.contains),
      s"identical-vector pairs missed under the byte gate: ${mustFind.filterNot(ivf.contains)}")
  }

  test("ivfCellCount: byte gate caps supply at production dim; floors hold") {
    // r18 (the sizing rule extracted from embeddingNearDupsIvf): at the
    // default 256 MB budget and dim 768, supply = 256 MB / (8 B x 768)
    // = 43,690 cells — the documented production-width ceiling — while
    // the demand side (cf=64 over 800k vectors) asks for 57,244
    assert(Dedup.ivfCellCount(800000L, 768, 4, 64.0) === 43690)
    assert(Dedup.ivfCellCount(
      800000L, 768, 4, 64.0, maxCentroidBytes = Long.MaxValue) === 57244)
    // testdata dim 64: the byte supply is 512k cells, so the 2^20
    // count cap and the byte gate are both above any wired demand
    assert(Dedup.ivfCellCount(800000L, 64, 4, 1.0) === 1563) // n*probes/(cap/2)
    // floor: max(minCells, probes) even when demand is tiny
    assert(Dedup.ivfCellCount(100L, 64, 16, 0.001) === 16)
    assert(Dedup.ivfCellCount(100L, 64, 1, 0.001) === 8)
  }

  test("index-exchange sizing: floor for small corpora, proportional, capped") {
    // r17: the ranked/perDoc cache exchanges are sized from corpus
    // stats (AQE cannot re-plan inside a persisted plan). spark.range
    // gives exact 8-bytes-a-row stats to probe the formula with.
    val floor = spark.sparkContext.defaultParallelism
    // tiny corpus -> session floor (the old posture, bit-identical plans)
    assert(Dedup.indexShuffleParts(spark.range(10).toDF()) == floor)
    // 256 MB of stats x16 expansion / 64 MB target = 64 partitions
    assert(Dedup.indexShuffleParts(spark.range(32L << 20).toDF()) == 64)
    // huge stats saturate at 64x the floor, and the insane-stats
    // sentinel (join products of defaults) falls back to the floor
    assert(Dedup.indexShuffleParts(spark.range(1L << 34).toDF()) == floor * 64)
    assert(Dedup.indexShuffleParts(
      spark.range(1L << 34).toDF().crossJoin(spark.range(1L << 34).toDF("b"))) == floor)
  }
}
