package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.{PermuteHash, VecDot}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** ScalaCheck properties for the custom expressions (direct `nullSafeEval`
  * — no Spark jobs per case) plus one batched Spark-level property for the
  * MinHash-Jaccard estimator (SURVEY.md §5.2).
  */
class PropSpec extends SparkSpec {

  private def check(p: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def vecDotEval(a: Seq[Double], b: Seq[Double]): Double =
    VecDot(Literal.create(null, ArrayType(DoubleType)), Literal.create(null, ArrayType(DoubleType)))
      .nullSafeEval(new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      .asInstanceOf[Double]

  test("vec_dot equals the reference fold and is symmetric") {
    val gv = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    check(Prop.forAll(gv, gv) { (a, b) =>
      val got = vecDotEval(a, b)
      val ref = a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
      got == ref && got == vecDotEval(b, a)
    })
  }

  test("vec_dot truncates to the shorter vector") {
    val gv = Gen.listOfN(8, Gen.choose(-5.0, 5.0))
    check(Prop.forAll(gv, Gen.listOfN(12, Gen.choose(-5.0, 5.0))) { (a, b) =>
      vecDotEval(a, b) == a.zip(b.take(8)).map { case (x, y) => x * y }.sum
    })
  }

  private def permEval(h: Long, seed: Int): Long =
    PermuteHash(Literal.create(null, LongType), Literal.create(null, IntegerType))
      .nullSafeEval(h, seed).asInstanceOf[Long]

  test("permute_hash is injective per seed and identity at seed 0") {
    val gl = Gen.choose(Long.MinValue, Long.MaxValue)
    check(Prop.forAll(gl, gl, Gen.choose(0, 63)) { (h1, h2, seed) =>
      (h1 == h2 || permEval(h1, seed) != permEval(h2, seed)) &&
        permEval(h1, 0) == h1
    })
  }

  test("saltedBandPairs equals naive in-bucket pair expansion (batched random buckets)") {
    import spark.implicits._
    // 30 deterministic random bucket configurations, several salt fan-outs:
    // the salted self-join must emit exactly the ordered pair set the naive
    // per-bucket k(k-1)/2 expansion defines — no duplicates, no losses,
    // regardless of how ids hash onto salts
    val rnd = new scala.util.Random(13)
    (0 until 30).foreach { _ =>
      val nBuckets = 1 + rnd.nextInt(4)
      val sig = (0 until nBuckets).flatMap { b =>
        val ids = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(40).toLong).distinct
        ids.map(id => (id, b, 1000L + b))
      }
      val salt = 1 + rnd.nextInt(7)
      val got = graft.api.Dedup.saltedBandPairs(sig.toDF("id", "band", "bsig"), salt)
        .as[(Long, Long)].collect().toSet
      val expected = sig.groupBy(r => (r._2, r._3)).values.flatMap { bucket =>
        val ids = bucket.map(_._1).distinct
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      assert(got == expected, s"salt=$salt sig=$sig")
    }
  }

  test("levenshteinJoin equals the driver-side blocked brute force (batched random corpora)") {
    import spark.implicits._
    // 20 deterministic random string corpora: the blocked fuzzy join must
    // emit EXACTLY the pairs a driver-side brute force finds after applying
    // the same (prefix, length-band) blocking contract — no duplicates, no
    // losses, and dist values equal to a reference edit-distance DP
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(29)
    (0 until 20).foreach { it =>
      val alpha = "abc" // tiny alphabet → real near-collisions
      def word() = Seq.fill(3 + rnd.nextInt(5))(alpha(rnd.nextInt(3))).mkString
      val maxDist = 1 + rnd.nextInt(2)
      val blockLen = 1 + rnd.nextInt(3)
      val left = (0 until 12).map(i => (i.toLong, word()))
      val right = (0 until 12).map(i => (100L + i, word()))
      val got = graft.api.Fuzzy.levenshteinJoin(
          left.toDF("id", "txt"), "id", "txt",
          right.toDF("id", "txt"), "id", "txt", maxDist, blockLen)
        .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
      val expected = (for {
        (la, ta) <- left
        (lb, tb) <- right
        if ta.take(blockLen) == tb.take(blockLen)
        if math.abs(ta.length - tb.length) <= maxDist
        d = lev(ta, tb)
        if d <= maxDist
      } yield (la, lb, d)).toSet
      assert(got == expected,
        s"iter=$it maxDist=$maxDist blockLen=$blockLen\n$got\n$expected")
    }
  }

  test("charEntropy matches driver-side Shannon entropy and its bounds (batched corpora)") {
    import spark.implicits._
    // random lowercase corpora: the engine value must match a naive driver
    // computation to the builder's 1e-6 quantization + round-4 contract,
    // and the information-theoretic bounds 0 <= H <= ln(n_uniq) must hold
    val rnd = new scala.util.Random(31)
    val docs = (0 until 60).map { i =>
      val alpha = 1 + rnd.nextInt(12)
      val len = 1 + rnd.nextInt(80)
      (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(alpha)).toChar).mkString)
    }
    val got = graft.api.Text.charEntropy(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "n_ch", "n_uniq_ch", "entropy")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    docs.foreach { case (id, text) =>
      val counts = text.groupBy(identity).values.map(_.length)
      val n = text.length
      val ref = math.max(0.0,
        math.log(n) - counts.map(c => c * math.log(c)).sum / n)
      val (_, nCh, nUniq, h) = got(id)
      assert(nCh == n && nUniq == counts.size)
      assert(math.abs(h - ref) < 2e-4, s"doc $id: got $h ref $ref")
      assert(h >= 0.0 && h <= math.log(nUniq.toDouble) + 1e-4,
        s"doc $id: H=$h outside [0, ln($nUniq)]")
    }
  }

  test("unigramNll matches the driver-side LM and floors at the corpus entropy argmin (batched)") {
    import spark.implicits._
    // random token corpora: per-doc nll must equal the naive driver LM
    // computation, and the doc made ONLY of the corpus's most common token
    // must attain the minimum nll (it has the highest-probability wording)
    val rnd = new scala.util.Random(47)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (0 until 40).map { i =>
      val len = 1 + rnd.nextInt(30)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(rnd.nextInt(vocab.size) + 1))).mkString(" "))
    }
    val toks = docs.flatMap(_._2.split(" "))
    val cnt = toks.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val total = toks.size.toDouble
    val r = graft.api.Text.unigramNll(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "n_toks", "nll").as[(Long, Long, Double)].collect()
    graft.api.Caches.sweep(spark)
    val refNll = docs.map { case (id, text) =>
      val ts = text.split(" ")
      // quantize per-WORD logp at 1e-6 like the builder, then tf-weight
      id -> -ts.groupBy(identity).map { case (w, ws) =>
        ws.size * BigDecimal(math.log(cnt(w) / total))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sum / ts.length
    }.toMap
    r.foreach { case (id, nToks, nll) =>
      assert(nToks == docs(id.toInt)._2.split(" ").length)
      assert(math.abs(nll - refNll(id)) < 1e-9,
        s"doc $id: got $nll ref ${refNll(id)}")
    }
    val best = vocab.maxBy(w => cnt.getOrElse(w, 0.0))
    val withProbe = docs :+ (999L, Seq.fill(5)(best).mkString(" "))
    val r2 = graft.api.Text.unigramNll(withProbe.toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "nll").as[(Long, Double)].collect().toMap
    graft.api.Caches.sweep(spark)
    // <= + ulp slack, not ==: another doc can randomly be all-best-token
    // too, and its decimal-sum→double→divide at a different length may
    // differ in the last ulp
    assert(r2(999L) <= r2.values.min + 1e-12,
      s"the all-most-common-token doc must attain the minimum nll: $r2")
  }

  test("connectedComponents equals driver union-find on random graphs (batched)") {
    import spark.implicits._
    // 6 deterministic random graphs spanning the shapes pointer doubling
    // must handle: sparse forests, dense blobs, and graphs mixing both —
    // compared against an independent driver-side union-find
    val rnd = new scala.util.Random(17)
    (0 until 6).foreach { gi =>
      val nNodes = 10 + rnd.nextInt(50)
      val nEdges = 1 + rnd.nextInt(nNodes * 2)
      val edges = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val got = graft.api.Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
          .as[(Long, Long)].collect().toMap
        // reference: plain union-find with path compression
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(x => x -> find(x)).toMap
        assert(got == expected, s"graph $gi: nodes=$nNodes edges=$edges")
      }
    }
  }

  test("connectedComponents equals driver union-find on random pair lists (loops, repeats, nulls, near-max ids)") {
    import spark.implicits._
    import Prop.propBoolean
    // endpoints from a small pool, so pairs collide into shared components;
    // a third of them sit near Long.MaxValue, where a Long label sum wraps
    val id: Gen[Option[Long]] = Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.choose(0L, 15L).map(Some(_)),
      3 -> Gen.choose(0L, 5L).map(d => Some(Long.MaxValue - d)))
    val pairLists = for {
      base <- Gen.choose(1, 20).flatMap(Gen.listOfN(_, Gen.zip(id, id)))
      again <- Gen.someOf(base)
      flipped <- Gen.someOf(base)
      loops <- Gen.someOf(base)
    } yield base ++ again ++ flipped.map(_.swap) ++ loops.map(p => (p._1, p._1))
    check(Prop.forAll(pairLists) { pairs =>
      val got = graft.api.Dedup.connectedComponents(pairs.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect()
      // reference: union-find over the pairs with two endpoints, the
      // smaller root winning, so a root is its component's min id
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach {
        case (Some(a), Some(b)) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        case _ =>
      }
      val expected = parent.keys.toSeq.map(x => x -> find(x)).toMap
      graft.api.Caches.sweepAll(spark)
      (got.length == expected.size && got.toMap == expected) :|
        s"pairs=$pairs got=${got.toSeq.sorted} expected=${expected.toSeq.sorted}"
    }, n = 12)
  }

  test("md5 MinHash-LSH recovers high-similarity planted pairs (batched corpora)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 deterministic generated corpora; each plants 10 near-dups (one
    // mid-token edit of a 60-100-token doc → word-3-gram Jaccard ≈ 0.93,
    // per-pair LSH miss probability ≈ (1-j⁴)⁴ ≈ 0.5%). The md5-permutation
    // pipeline is fully deterministic given the seeded corpus, so this
    // pins recall ≥ 9/10 per corpus as a stable bound — the generated-data
    // backstop behind the oracled llm_minhash_recall fixture metric.
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 200).map(i => s"w$i")
    (0 until 3).foreach { ci =>
      val nDocs = 30 + rnd.nextInt(20)
      val docs = (0 until nDocs).map { i =>
        val len = 60 + rnd.nextInt(41)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val planted = docs.take(10).map { case (id, text) =>
        val toks = text.split(" ")
        toks(toks.length / 2) = "edited"
        (id + 1000L, toks.mkString(" "))
      }
      val df = (docs ++ planted).toDF("doc_id", "text")
      val cand = graft.api.Dedup.md5MinhashCandidates(df, "doc_id", "text")
        .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
      val expected = (0 until 10).map(i => (i.toLong, i + 1000L)).toSet
      val found = expected.intersect(cand)
      assert(found.size >= 9,
        s"corpus $ci: LSH recovered only ${found.size}/10 planted near-dup pairs")
    }
  }

  test("approx_percentile holds ±1 percentile rank on generated heavy-tailed corpora (batched)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // generalizes the fixture-bound RelationalSpec check: 6 deterministic
    // generated distributions chosen to stress the sketch where rank error
    // hurts — heavy tails (lognormal σ=3, Pareto α=0.5 has INFINITE mean),
    // point-mass duplication, and a 1000x outlier mixture. The sketch's
    // guarantee is on RANK, not value, so the assertion brackets each
    // approx p-quantile between the exact order statistics at ranks
    // (p±0.01)·n — two orders of magnitude above the ~0.01% error at
    // accuracy=10000, but catastrophic-failure-tight on any shape.
    val rnd = new scala.util.Random(31)
    val n = 20000
    val corpora: Seq[(String, Array[Double])] = Seq(
      "lognormal_s1" -> Array.fill(n)(math.exp(rnd.nextGaussian())),
      "lognormal_s3" -> Array.fill(n)(math.exp(3 * rnd.nextGaussian())),
      "pareto_a05" -> Array.fill(n)(math.pow(rnd.nextDouble(), -2.0)),
      "pareto_a15" -> Array.fill(n)(math.pow(rnd.nextDouble(), -1.0 / 1.5)),
      "outlier_mix" -> Array.fill(n)(
        if (rnd.nextDouble() < 0.01) rnd.nextGaussian() * 1000 else rnd.nextGaussian()),
      "dup_mass" -> Array.fill(n)(
        if (rnd.nextDouble() < 0.9) 42.0 else rnd.nextDouble() * 100))
    val df = corpora.flatMap { case (k, vs) => vs.map(v => (k, v)) }
      .toDF("corpus", "value")
    val got = df.groupBy("corpus")
      .agg(expr("approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)").as("ps"))
      .as[(String, Seq[Double])].collect().toMap
    corpora.foreach { case (k, vs) =>
      val sorted = vs.sorted
      def bracket(p: Double, v: Double): Unit = {
        val lo = sorted(math.max(0, math.floor((p - 0.01) * (n - 1)).toInt))
        val hi = sorted(math.min(n - 1, math.ceil((p + 0.01) * (n - 1)).toInt))
        assert(v >= lo && v <= hi, s"$k p=$p: approx $v outside rank band [$lo, $hi]")
      }
      val ps = got(k)
      bracket(0.5, ps(0)); bracket(0.9, ps(1)); bracket(0.99, ps(2))
    }
  }

  test("minhash signature match-rate estimates Jaccard within 4 sigma (batched)") {
    import spark.implicits._
    graft.functions.SketchFunctions.register(spark)
    import org.apache.spark.sql.functions._
    // 40 deterministic random set pairs with varying overlap
    val rnd = new scala.util.Random(7)
    val cases = (0 until 40).map { pid =>
      val base = Seq.fill(60)(rnd.nextLong())
      val keep = rnd.nextInt(61)
      val a = base
      val b = base.take(keep) ++ Seq.fill(60 - keep)(rnd.nextLong())
      (pid, a, b)
    }
    val rows = cases.flatMap { case (pid, a, b) =>
      a.distinct.map(h => (pid, 0, h)) ++ b.distinct.map(h => (pid, 1, h))
    }
    val sigs = rows.toDF("pid", "side", "h")
      .groupBy("pid", "side").agg(expr("minhash_agg(h)").as("mh"))
      .as[(Int, Int, Seq[Long])].collect()
      .groupBy(_._1).view.mapValues(v => (v.find(_._2 == 0).get._3, v.find(_._2 == 1).get._3))
    cases.foreach { case (pid, a, b) =>
      val (sa, sb) = sigs(pid)
      val est = sa.zip(sb).count { case (x, y) => x == y } / 32.0
      val sA = a.distinct.toSet
      val sB = b.distinct.toSet
      val jac = sA.intersect(sB).size.toDouble / sA.union(sB).size
      val sigma = math.sqrt(jac * (1 - jac) / 32).max(0.02)
      assert(math.abs(est - jac) <= 4 * sigma + 0.05,
        s"pair $pid: estimate $est vs true $jac")
    }
  }

  test("md5 SimHash-LSH recovers one-edit planted near-dups (batched corpora)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the generated-data backstop behind the oracled llm_simhash_recall
    // fixture metric (mirrors the md5 MinHash test above). Doc length is
    // the recall lever: a one-token edit shifts each bit's vote by at most
    // ±2, so only bits with |vote margin| < 2 can flip — probability
    // ~1/√len per bit (central limit), so 200-300-token docs flip ~2% of
    // bits, P(a 16-bit band survives) ≈ 0.7, P(≥1 of 4 bands) ≈ 0.99.
    // (At 60-100 tokens ~6% of bits flip and expected recall is only
    // ~0.77 — SimHash blocking is genuinely weaker on short docs, which
    // is the same property the fixture metric quantifies.)
    val rnd = new scala.util.Random(29)
    val vocab = (0 until 200).map(i => s"w$i")
    (0 until 3).foreach { ci =>
      val nDocs = 30 + rnd.nextInt(20)
      val docs = (0 until nDocs).map { i =>
        val len = 200 + rnd.nextInt(101)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val planted = docs.take(10).map { case (id, text) =>
        val toks = text.split(" ")
        toks(toks.length / 2) = "edited"
        (id + 1000L, toks.mkString(" "))
      }
      val df = (docs ++ planted).toDF("doc_id", "text")
      val cand = graft.api.Dedup.md5SimhashCandidates(df, "doc_id", "text")
        .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
      val expected = (0 until 10).map(i => (i.toLong, i + 1000L)).toSet
      val found = expected.intersect(cand)
      assert(found.size >= 9,
        s"corpus $ci: SimHash LSH recovered only ${found.size}/10 planted pairs")
    }
  }

  test("weightedPercentiles crossing rule matches driver-side naive accumulation (batched)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4 deterministic generated corpora exercising the two-stage bucketed
    // prefix sum off the fixture: 1-decimal values force duplicate-value
    // pre-aggregation, integer weights keep every sum exact so the naive
    // driver accumulation is a bit-exact reference, and a degenerate
    // single-value key pins the hi==lo bucket branch
    val rnd = new scala.util.Random(47)
    (0 until 4).foreach { ci =>
      val n = 200 + rnd.nextInt(300)
      val rows = (0 until n).map { _ =>
        ("k" + rnd.nextInt(3),
          math.rint(rnd.nextDouble() * 1000) / 10,
          (1 + rnd.nextInt(9)).toDouble)
      } ++ Seq(("solo", 42.0, 3.0), ("solo", 42.0, 2.0))
      val got = graft.api.Fts.weightedPercentiles(
          rows.toDF("k", "v", "w"), "k", "v", "w")
        .select("k", "wp50", "wp90", "total_weight")
        .as[(String, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expected = rows.groupBy(_._1).map { case (k, rs) =>
        val byVal = rs.groupBy(_._2).map { case (v, g) => (v, g.map(_._3).sum) }
          .toSeq.sortBy(_._1)
        val total = byVal.map(_._2).sum
        var cum = 0.0
        var wp50 = Double.NaN
        var wp90 = Double.NaN
        byVal.foreach { case (v, w) =>
          cum += w
          if (wp50.isNaN && cum * 2 >= total) wp50 = v
          if (wp90.isNaN && cum * 10 >= total * 9) wp90 = v
        }
        k -> ((wp50, wp90, total))
      }
      assert(got == expected, s"corpus $ci: got=$got expected=$expected")
    }
  }

  test("hiLo split-sum is the correctly rounded double of a >2^53 product sum (r12)") {
    import spark.implicits._
    // the agg_ols_multi budget case: per-row p = x1*yc <= 5.5e10 with
    // enough rows that the TOTAL crosses 2^53 — the exact-integer sum no
    // longer fits a double, so the BIGINT path and the hiLo path are only
    // equal because both correctly round the exact sum; prove the hiLo
    // close against BigInt arithmetic, which a plain double fold cannot
    // reproduce (it accumulates rounding error per addend)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 800000).map { _ =>
      val x1 = 1L + rnd.nextInt(5000)        // quantity cents domain
      val yc = 1L + rnd.nextInt(11000000)    // price cents domain
      x1 * yc
    }
    val exact = rows.map(BigInt(_)).sum
    assert(exact > BigInt(1L << 53),
      s"fixture must cross 2^53 to exercise the split, got $exact")
    val sums = graft.ops.H.hiLoSums(
      org.apache.spark.sql.functions.col("p"), "t")
    val got = rows.toDF("p")
      .agg(sums.head, sums.tail: _*)
      .select(graft.ops.H.hiLoClose("t").as("s"))
      .as[Double].collect()(0)
    assert(got == exact.toDouble, // BigInt.toDouble is correctly rounded
      s"hiLo close $got != correctly rounded ${exact.toDouble}")
  }
}
