package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bootstrap CI (Stats.bootstrapCI, q250) and Welch's t-test
  * (Stats.welchTTest, q251).
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("bootstrapCI brackets the point estimate with a real band") {
    val df = (1L to 400L).map(i => (i, i % 37)).toDF("id", "x")
    val r = Stats.bootstrapCI(df, "id", "x", reps = 100).collect().head
    val (est, lo, hi) = (r.getAs[Double]("est_mean"),
      r.getAs[Double]("ci_low"), r.getAs[Double]("ci_high"))
    assert(r.getAs[Long]("n_rows") == 400L)
    assert(r.getAs[Long]("n_reps") == 100L)
    assert(lo < est && est < hi, s"band [$lo, $hi] must bracket $est")
    // Poisson-bootstrap SE of a mean ≈ sd/√n ≈ 10.7/20 ≈ 0.53; the
    // 95% band must be neither collapsed nor absurdly wide
    assert(hi - lo > 0.5 && hi - lo < 5.0, s"width ${hi - lo}")
  }

  test("bootstrapCI of a constant metric is a zero-width band") {
    // every reweighting of a constant column has the same mean — the
    // weights cancel; a non-degenerate band here would mean the
    // replicate means are touching the data, not the weights
    val df = (1L to 100L).map(i => (i, 7L)).toDF("id", "x")
    val r = Stats.bootstrapCI(df, "id", "x", reps = 20).collect().head
    assert(r.getAs[Double]("ci_low") == 7.0)
    assert(r.getAs[Double]("ci_high") == 7.0)
    assert(r.getAs[Double]("est_mean") == 7.0)
  }

  test("bootstrapCI is partitioning-invariant") {
    val df = (1L to 300L).map(i => (i, i % 11)).toDF("id", "x")
    val a = Stats.bootstrapCI(df.coalesce(1), "id", "x", reps = 24)
      .collect().head.toSeq
    val b = Stats.bootstrapCI(df.repartition(13), "id", "x", reps = 24)
      .collect().head.toSeq
    assert(a == b)
  }

  test("welchTTest matches the hand computation") {
    // arm0 = {1,2,3}: m=2, v=1; arm1 = {2,4,6}: m=4, v=4
    // t = -2/√(1/3 + 4/3) = -1.549193
    // df = (5/3)² / ((1/3)²/2 + (4/3)²/2) = 2.941176
    val df = Seq((0, 1L), (0, 2L), (0, 3L), (1, 2L), (1, 4L), (1, 6L))
      .toDF("arm", "x")
    val r = Stats.welchTTest(df, "arm", "x").collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("mean_a") == 2.0)
    assert(r.getAs[Double]("mean_b") == 4.0)
    assert(r.getAs[Double]("var_a") == 1.0)
    assert(r.getAs[Double]("var_b") == 4.0)
    assert(math.abs(r.getAs[Double]("t_stat") - (-1.549193)) < 1e-6)
    assert(math.abs(r.getAs[Double]("welch_df") - 2.941176) < 1e-6)
    assert(r.getAs[Int]("significant") == 0)
  }

  test("welchTTest: identical arms give t = 0; a shifted arm triggers") {
    val base = (1L to 200L).map(i => i % 23)
    val aa = (base.map(x => (0, x)) ++ base.map(x => (1, x))).toDF("arm", "x")
    val r0 = Stats.welchTTest(aa, "arm", "x").collect().head
    assert(r0.getAs[Double]("t_stat") == 0.0)
    assert(r0.getAs[Int]("significant") == 0)
    val ab = (base.map(x => (0, x)) ++ base.map(x => (1, x + 10)))
      .toDF("arm", "x")
    val r1 = Stats.welchTTest(ab, "arm", "x").collect().head
    assert(r1.getAs[Int]("significant") == 1)
    assert(r1.getAs[Double]("t_stat") < -1.96)
  }

  test("psiDrift: hand-computed two-bucket swap") {
    // ref {a:3, b:1}, cur {a:1, b:3}; Laplace over B=2 observed buckets:
    // p_a = 4/6, q_a = 2/6 → term = (1/3)·ln2 = 0.231049 (d6); psi =
    // 0.462098 on every row of the dimension
    val df = (Seq.fill(3)(("a", false)) ++ Seq(("b", false)) ++
      Seq(("a", true)) ++ Seq.fill(3)(("b", true)))
      .toDF("k", "cur")
    val out = Stats.psiDrift(df, "cur", Seq("k" -> col("k")))
      .collect().map(r => (r.getAs[String]("bucket"),
        r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Double]("psi_term"), r.getAs[Double]("psi"))).toSet
    assert(out == Set(
      ("a", 3L, 1L, 0.231049, 0.462098),
      ("b", 1L, 3L, 0.231049, 0.462098)))
  }

  test("psiDrift: identical distributions score zero; one-sided buckets stay finite") {
    val same = (1 to 40).flatMap(i =>
      Seq((s"k${i % 4}", false), (s"k${i % 4}", true))).toDF("k", "cur")
    val zero = Stats.psiDrift(same, "cur", Seq("k" -> col("k"))).collect()
    assert(zero.forall(_.getAs[Double]("psi") == 0.0))
    // bucket 'n' never appears in ref — Laplace smoothing keeps the
    // term finite (clip-free by construction)
    val oneSided = (Seq.fill(5)(("m", false)) ++ Seq.fill(4)(("m", true)) ++
      Seq(("n", true))).toDF("k", "cur")
    val r = Stats.psiDrift(oneSided, "cur", Seq("k" -> col("k"))).collect()
    assert(r.forall(x => !x.getAs[Double]("psi_term").isNaN &&
      !x.getAs[Double]("psi_term").isInfinite))
    assert(r.head.getAs[Double]("psi") > 0.0)
  }

  test("psiDrift is partitioning-invariant and handles multi-dimension input") {
    val df = (1 to 60).map(i =>
      (s"t${i % 3}", (i % 7).toLong, i % 2 == 0)).toDF("t", "v", "cur")
    val dims = Seq("type" -> col("t"), "val" -> col("v"))
    val a = Stats.psiDrift(df, "cur", dims).collect().map(_.toSeq).toSet
    val b = Stats.psiDrift(df.repartition(7), "cur", dims)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.map(_.head).toSet == Set("type", "val"))
  }

  test("mannWhitneyU matches the hand computation with ties") {
    // arm0: 1, 2, 2; arm1: 2, 3. pooled sorted: 1(r1) 2 2 2 (avg r3)
    // 3(r5). R1 = 3 + 5 = 8; U1 = 8 - 2*3/2 = 5; U0 = 3*2 - 5 = 1.
    // ties: value 2 has t=3 → Σ(t³−t) = 24. n=5.
    // var = 3*2/12 * (6 − 24/(5*4)) = 0.5 * 4.8 = 2.4
    // z = (2*5 − 3*2) / (2*sqrt(2.4)) = 4 / 3.09839 = 1.290994
    val df = Seq((0, 1L), (0, 2L), (0, 2L), (1, 2L), (1, 3L))
      .toDF("arm", "v")
    val r = Stats.mannWhitneyU(df, "arm", "v").collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("u_a") == 1.0)
    assert(r.getAs[Double]("u_b") == 5.0)
    assert(math.abs(r.getAs[Double]("z_stat") - 1.290994) < 1e-6)
    assert(r.getAs[Int]("significant") == 0)
  }

  test("mannWhitneyU fails loudly on an empty arm or all-tied values") {
    val oneArm = Seq((0, 1L), (0, 2L)).toDF("arm", "v")
    val e1 = intercept[Exception] {
      Stats.mannWhitneyU(oneArm, "arm", "v").collect()
    }
    assert(e1.getMessage.contains("mannWhitneyU"))
    val allTied = Seq((0, 5L), (0, 5L), (1, 5L)).toDF("arm", "v")
    val e2 = intercept[Exception] {
      Stats.mannWhitneyU(allTied, "arm", "v").collect()
    }
    assert(e2.getMessage.contains("mannWhitneyU"))
  }

  test("mannWhitneyU rejects an arm value that is not 0/1") {
    // an arm of 2 or NULL would otherwise fall out of both arms unseen
    Seq[Option[Int]](Some(2), None).foreach { bad =>
      val df = Seq((Some(0), 1L), (Some(0), 2L), (Some(1), 3L), (Some(1), 4L),
        (bad, 5L)).toDF("arm", "v")
      val e = intercept[Exception] {
        Stats.mannWhitneyU(df, "arm", "v").collect()
      }
      val shown = bad.fold("NULL")(_.toString)
      assert(e.getMessage.contains(s"mannWhitneyU: arm flag $shown is not 0/1"),
        e.getMessage)
    }
  }

  test("mannWhitneyU names its degenerate-input guard, not a division by zero") {
    for (df <- Seq(Seq((0, 1L), (0, 2L)), Seq((0, 5L), (0, 5L), (1, 5L)))) {
      val e = intercept[Exception] {
        Stats.mannWhitneyU(df.toDF("arm", "v"), "arm", "v").collect()
      }
      assert(e.getMessage.contains("need both arms non-empty"), e.getMessage)
    }
  }

  test("ksTest and kuiperTest reject an arm value that is not 0/1") {
    // an arm of 2 or NULL would otherwise fall out of both arms unseen
    Seq[(Option[Int], String)](Some(2) -> "2", None -> "NULL").foreach {
      case (bad, shown) =>
        val df = Seq((Some(0), 1L), (Some(0), 2L), (Some(1), 3L), (Some(1), 4L),
          (bad, 5L)).toDF("arm", "v")
        Seq("ksTest" -> (Stats.ksTest _),
          "kuiperTest" -> (Stats.kuiperTest _)).foreach {
          case (fn, op) =>
            val e = intercept[Exception](op(df, "arm", "v").collect())
            assert(e.getMessage.contains(s"$fn: arm flag $shown is not 0/1"),
              e.getMessage)
        }
    }
  }

  test("passAtK matches the closed-form combinatorics") {
    // problem 1: n=4, c=2 → pass@1 = 1 − C(2,1)/C(4,1)·… product form:
    // 1 − (2/4) = 0.5; pass@3 = 1 − (2·1·0)/(4·3·2) = 1.0
    // problem 2: n=3, c=0 → pass@1 = 0; pass@3 = 0
    // problem 3: n=2 → pass@3 undefined (NULL)
    val df = Seq(
      (1L, 1), (1L, 1), (1L, 0), (1L, 0),
      (2L, 0), (2L, 0), (2L, 0),
      (3L, 1), (3L, 0)).toDF("pid", "ok")
    val out = Stats.passAtK(df, "pid", "ok", Seq(1, 3))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("pass_at_1") == 0.5)
    assert(out(1L).getAs[Double]("pass_at_3") == 1.0)
    assert(out(2L).getAs[Double]("pass_at_1") == 0.0)
    assert(out(2L).getAs[Double]("pass_at_3") == 0.0)
    assert(math.abs(out(3L).getAs[Double]("pass_at_1") - 0.5) < 1e-9)
    assert(out(3L).isNullAt(out(3L).fieldIndex("pass_at_3")))
  }

  test("bhFdr reproduces the textbook step-up example") {
    // m=5, q=0.25; p = .01 .02 .03 .20 .90 → thresholds i·q/m =
    // .05 .10 .15 .20 .25 → k* = 4 (p4=.20 ≤ .20) → reject 1..4
    // p_adj: from the top: min running of m·p/i = .90, .25, .05, .05, .05
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.20),
      ("e", 0.90)).toDF("k", "p")
    val out = Stats.bhFdr(df, "k", "p", q = 0.25)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("rank"), r.getAs[Double]("p_adj"),
          r.getAs[Int]("rejected")))).toMap
    assert(out("a") == ((1L, 0.05, 1)))
    assert(out("b") == ((2L, 0.05, 1)))
    assert(out("c") == ((3L, 0.05, 1)))
    assert(out("d") == ((4L, 0.25, 1)))
    assert(out("e") == ((5L, 0.9, 0)))
  }

  test("bhFdr with nothing significant rejects nothing") {
    val df = Seq(("a", 0.5), ("b", 0.9)).toDF("k", "p")
    val out = Stats.bhFdr(df, "k", "p", q = 0.05).collect()
    assert(out.forall(_.getAs[Int]("rejected") == 0))
  }

  test("cohensKappa matches the classic worked example") {
    // the standard 2×2 worked case: 20 yes-yes, 5 yes-no, 10 no-yes,
    // 15 no-no → po = 35/50 = .7; pe = (25·30 + 25·20)/2500 = .5;
    // κ = .2/.5 = .4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val r = Stats.cohensKappa(rows.toDF("a", "b"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_items") == 50L)
    assert(r.getAs[Double]("po") == 0.7)
    assert(r.getAs[Double]("pe") == 0.5)
    assert(math.abs(r.getAs[Double]("kappa") - 0.4) < 1e-9)
  }

  test("cohensKappa: constant agreeing raters score kappa = 1") {
    val rows = Seq.fill(10)(("x", "x")).toDF("a", "b")
    assert(Stats.cohensKappa(rows, "a", "b").collect()
      .head.getAs[Double]("kappa") == 1.0)
  }

  test("jsDrift: identical halves score zero; divergence is bounded") {
    val same = (0 until 40).map(i => (s"b${(i / 2) % 4}", i % 2 == 0))
      .toDF("k", "cur")
    val z = Stats.jsDrift(same, "cur", col("k")).collect()
    assert(z.forall(_.getAs[Double]("js") == 0.0))
    // total support swap: still finite and ≤ ln 2
    val swap = (Seq.fill(20)(("only_ref", false)) ++
      Seq.fill(20)(("only_cur", true))).toDF("k", "cur")
    val s = Stats.jsDrift(swap, "cur", col("k")).collect()
    val js = s.head.getAs[Double]("js")
    assert(js > 0.0 && js <= math.log(2.0) + 1e-9)
  }

  test("giniConcentration: textbook extremes") {
    // {0, 10}: half the mass missing → sample Gini 0.5
    val uneven = Seq((1L, 0L), (2L, 10L)).toDF("k", "v")
      .select(col("v"))
    assert(Stats.giniConcentration(uneven, "v").collect()
      .head.getAs[Double]("gini") == 0.5)
    // perfectly even → 0
    val even = Seq(5L, 5L, 5L, 5L).toDF("v")
    val r = Stats.giniConcentration(even, "v").collect().head
    assert(r.getAs[Double]("gini") == 0.0)
    assert(r.getAs[Long]("n_keys") == 4L)
    assert(r.getAs[Long]("total") == 20L)
    // degenerate: all-zero metric fails loudly
    val zeros = Seq(0L, 0L).toDF("v")
    val e = intercept[Exception] {
      Stats.giniConcentration(zeros, "v").collect()
    }
    assert(e.getMessage.contains("giniConcentration"))
  }

  test("bradleyTerry: dominant item tops the fit; strengths sum to 1") {
    // a beats b 9/1, b beats c 9/1, a beats c 9/1 — fit must order
    // a > b > c with Σ strengths = 1 (d6 rounding aside)
    val games = (Seq.fill(9)(("a", "b")) ++ Seq.fill(1)(("b", "a")) ++
      Seq.fill(9)(("b", "c")) ++ Seq.fill(1)(("c", "b")) ++
      Seq.fill(9)(("a", "c")) ++ Seq.fill(1)(("c", "a")))
      .toDF("winner", "loser")
    val out = Stats.bradleyTerry(games, "winner", "loser", iters = 5)
      .collect().map(r => r.getString(0) -> r).toMap
    val (sa, sb, sc) = (out("a").getAs[Double]("strength"),
      out("b").getAs[Double]("strength"), out("c").getAs[Double]("strength"))
    assert(sa > sb && sb > sc, s"order violated: $sa, $sb, $sc")
    assert(math.abs(sa + sb + sc - 1.0) < 1e-4)
    assert(out("a").getAs[Long]("n_wins") == 18L)
    assert(out("a").getAs[Long]("n_games") == 20L)
  }

  test("bradleyTerry: a zero-win item fits to strength 0") {
    val games = Seq(("a", "z"), ("b", "z"), ("a", "b"), ("b", "a"))
      .toDF("winner", "loser")
    val out = Stats.bradleyTerry(games, "winner", "loser", iters = 3)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("strength"))
      .toMap
    assert(out("z") == 0.0)
    assert(out("a") > 0.0 && out("b") > 0.0)
  }

  test("kruskalWallis matches the hand computation; ties correct H") {
    // A={1,2}, B={3,4}: ranks 1..4, R_A=3, R_B=7 →
    // H = 12/20·(9/2+49/2) − 15 = 2.4; no ties; df=1 crit 3.841459
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L))
      .toDF("g", "v")
    val r = Stats.kruskalWallis(df, "g", "v").collect().head
    assert(r.getAs[Long]("k_groups") == 2L)
    assert(r.getAs[Double]("h_stat") == 2.4)
    assert(r.getAs[Double]("h_corrected") == 2.4)
    assert(r.getAs[Int]("significant") == 0)
    // A={1,1}, B={2,2}: midranks 1.5,1.5,3.5,3.5 → same H = 2.4,
    // Σ(t³−t) = 12, C = 1 − 12/60 = 0.8 → H_c = 3.0
    val tied = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L))
      .toDF("g", "v")
    val rt = Stats.kruskalWallis(tied, "g", "v").collect().head
    assert(rt.getAs[Double]("h_stat") == 2.4)
    assert(rt.getAs[Double]("h_corrected") == 3.0)
  }

  test("kruskalWallis: degenerate inputs fail loudly") {
    val oneGroup = Seq(("A", 1L), ("A", 2L)).toDF("g", "v")
    val e1 = intercept[Exception] {
      Stats.kruskalWallis(oneGroup, "g", "v").collect()
    }
    assert(e1.getMessage.contains("kruskalWallis"), e1.getMessage)
    val allTied = Seq(("A", 5L), ("A", 5L), ("B", 5L)).toDF("g", "v")
    val e2 = intercept[Exception] {
      Stats.kruskalWallis(allTied, "g", "v").collect()
    }
    assert(e2.getMessage.contains("kruskalWallis"), e2.getMessage)
  }

  test("brownForsythe matches the hand ANOVA on |x − median|") {
    // A={0,10,10,10}: med2 = 20, z2 = {20,0,0,0}; B={5,5,5,7}:
    // med2 = 10, z2 = {0,0,0,4} → SSB=32, SSW=312, F = 32/52
    val df = Seq(("A", 0L), ("A", 10L), ("A", 10L), ("A", 10L),
      ("B", 5L), ("B", 5L), ("B", 5L), ("B", 7L)).toDF("g", "v")
    val r = Stats.brownForsythe(df, "g", "v").collect().head
    assert(r.getAs[Double]("ss_between") == 32.0)
    assert(r.getAs[Double]("ss_within") == 312.0)
    assert(r.getAs[Double]("f_stat") == 0.615385)
  }

  test("brownForsythe: equal spreads → F near 0; zero SSW → NULL F; " +
    "single group raises") {
    // identical shapes shifted in location: deviations equal → SSB = 0
    // (sizes of 4 keep every s²/n term exact at 6 decimals)
    val df = Seq(("A", 0L), ("A", 2L), ("A", 4L), ("A", 6L),
      ("B", 100L), ("B", 102L), ("B", 104L), ("B", 106L)).toDF("g", "v")
    val r = Stats.brownForsythe(df, "g", "v").collect().head
    assert(r.getAs[Double]("ss_between") == 0.0)
    assert(r.getAs[Double]("f_stat") == 0.0)
    val const = Seq(("A", 5L), ("A", 5L), ("B", 9L), ("B", 9L))
      .toDF("g", "v")
    val rc = Stats.brownForsythe(const, "g", "v").collect().head
    assert(rc.isNullAt(rc.fieldIndex("f_stat")))
    val e = intercept[Exception] {
      Stats.brownForsythe(Seq(("A", 1L), ("A", 2L)).toDF("g", "v"),
        "g", "v").collect()
    }
    assert(e.getMessage.contains("brownForsythe"), e.getMessage)
  }

  test("friedmanTest: perfectly consistent rankings hit Q = n(k−1)") {
    // 3 items × 3 systems, s3 > s2 > s1 everywhere → Q = 6,
    // df = 2, crit 5.991465 → significant
    val df = Seq(
      (1L, "s1", 10L), (1L, "s2", 20L), (1L, "s3", 30L),
      (2L, "s1", 1L), (2L, "s2", 5L), (2L, "s3", 9L),
      (3L, "s1", 7L), (3L, "s2", 8L), (3L, "s3", 11L))
      .toDF("item", "sys", "v")
    val r = Stats.friedmanTest(df, "item", "sys", "v").collect().head
    assert(r.getAs[Long]("n_items") == 3L)
    assert(r.getAs[Long]("k_systems") == 3L)
    assert(r.getAs[Double]("q_stat") == 6.0)
    assert(r.getAs[Double]("q_corrected") == 6.0)
    assert(r.getAs[Int]("significant") == 1)
  }

  test("friedmanTest: within-item ties midrank and correct Q; " +
    "all-tied items → NULL q_corrected") {
    // item 2 ties s1 = s2 < s3: midranks 1.5, 1.5, 3
    val df = Seq(
      (1L, "s1", 10L), (1L, "s2", 20L), (1L, "s3", 30L),
      (2L, "s1", 5L), (2L, "s2", 5L), (2L, "s3", 9L))
      .toDF("item", "sys", "v")
    val r = Stats.friedmanTest(df, "item", "sys", "v").collect().head
    // R_1 = 1+1.5 = 2.5, R_2 = 2+1.5 = 3.5, R_3 = 6 →
    // Q = 12/(2·3·4)·(6.25+12.25+36) − 3·2·4 = 54.5/2 − 24 = 3.25;
    // ties: one pair t=2 → Σ(t³−t) = 6, C = 1 − 6/(2·3·8) = 0.875
    assert(r.getAs[Double]("q_stat") == 3.25)
    assert(r.getAs[Double]("q_corrected") ==
      BigDecimal(3.25 / 0.875).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    val allTied = Seq(
      (1L, "s1", 5L), (1L, "s2", 5L),
      (2L, "s1", 7L), (2L, "s2", 7L)).toDF("item", "sys", "v")
    val rt = Stats.friedmanTest(allTied, "item", "sys", "v")
      .collect().head
    assert(rt.isNullAt(rt.fieldIndex("q_corrected")))
  }

  test("friedmanTest: incomplete or duplicated blocks fail loudly") {
    val missing = Seq(
      (1L, "s1", 1L), (1L, "s2", 2L),
      (2L, "s1", 3L)).toDF("item", "sys", "v")
    val e1 = intercept[Exception] {
      Stats.friedmanTest(missing, "item", "sys", "v").collect()
    }
    assert(e1.getMessage.contains("complete block"), e1.getMessage)
    val dup = Seq(
      (1L, "s1", 1L), (1L, "s1", 2L), (1L, "s2", 3L),
      (2L, "s1", 4L), (2L, "s2", 5L)).toDF("item", "sys", "v")
    val e2 = intercept[Exception] {
      Stats.friedmanTest(dup, "item", "sys", "v").collect()
    }
    assert(e2.getMessage.contains("complete block"), e2.getMessage)
  }

  test("nelsonAalen: hand cumulative hazard, d6 per increment") {
    // durations 1(event), 2(censored), 3(event): risk 3,2,1 →
    // increments 1/3, 0, 1 → H = 0.333333, 0.333333, 1.333333
    val df = Seq((1L, 1), (2L, 0), (3L, 1)).toDF("d", "e")
    val out = Stats.nelsonAalen(df, "d", "e")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getAs[Double]("cum_hazard")))).toMap
    assert(out(1L) == ((3L, 0.333333)))
    assert(out(2L) == ((2L, 0.333333)))
    assert(out(3L) == ((1L, 1.333333)))
  }

  test("cochranQ: textbook 4x3 pass table; degenerate and guard paths") {
    val df = Seq(
      (1L, "s1", 1L), (1L, "s2", 1L), (1L, "s3", 0L),
      (2L, "s1", 1L), (2L, "s2", 1L), (2L, "s3", 0L),
      (3L, "s1", 1L), (3L, "s2", 0L), (3L, "s3", 0L),
      (4L, "s1", 1L), (4L, "s2", 1L), (4L, "s3", 1L))
      .toDF("item", "sys", "x")
    val r = Stats.cochranQ(df, "item", "sys", "x").collect().head
    // C = (4,3,1), N = 8, R = (2,2,1,3):
    // Q = 2·(3·26 − 64)/(24 − 18) = 28/6 = 4.666667 < 5.991465
    assert(r.getAs[Long]("n_passes") == 8L)
    assert(r.getAs[Double]("q_stat") == 4.666667)
    assert(r.getAs[Int]("significant") == 0)
    // every item passes everything → denominator 0 → NULL q
    val allPass = Seq(
      (1L, "a", 1L), (1L, "b", 1L), (2L, "a", 1L), (2L, "b", 1L))
      .toDF("item", "sys", "x")
    val rn = Stats.cochranQ(allPass, "item", "sys", "x").collect().head
    assert(rn.isNullAt(rn.fieldIndex("q_stat")))
    // non-binary values fail loudly
    val bad = Seq(
      (1L, "a", 2L), (1L, "b", 0L), (2L, "a", 1L), (2L, "b", 0L))
      .toDF("item", "sys", "x")
    val e = intercept[Exception] {
      Stats.cochranQ(bad, "item", "sys", "x").collect()
    }
    assert(e.getMessage.contains("BINARY"), e.getMessage)
  }

  test("oddsRatio: hand 2x2 (OR 9, RR 3); Haldane kicks in on a zero " +
    "cell; non-binary rejected") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Seq.fill(30)((1L, 1L)) ++ Seq.fill(10)((1L, 0L)) ++
      Seq.fill(10)((0L, 1L)) ++ Seq.fill(30)((0L, 0L))
    val r = Stats.oddsRatio(rows.toDF("e", "y"), "e", "y")
      .collect().head
    assert(r.getAs[Int]("corrected") == 0)
    assert(r.getAs[Double]("odds_ratio") == 9.0)
    assert(r.getAs[Double]("risk_ratio") == 3.0)
    val se = d6(math.sqrt(2.0 / 60 + 2.0 / 20 + 2.0 / 20 + 2.0 / 60))
    val z = d6(d6(math.log(9.0)) / se)
    assert(r.getAs[Double]("z_stat") == z)
    assert(r.getAs[Int]("significant") == 1)
    // a zero cell triggers the +0.5 correction, flagged
    val zc = (Seq.fill(5)((1L, 1L)) ++ Seq.fill(5)((0L, 1L)) ++
      Seq.fill(5)((0L, 0L))).toDF("e", "y")
    val rz = Stats.oddsRatio(zc, "e", "y").collect().head
    assert(rz.getAs[Int]("corrected") == 1)
    // a2=11, b2=1, c2=11, d2=11 → OR = 121/11 = 11
    assert(rz.getAs[Double]("odds_ratio") == 11.0)
    val e = intercept[Exception] {
      Stats.oddsRatio(Seq((2L, 0L)).toDF("e", "y"), "e", "y").collect()
    }
    assert(e.getMessage.contains("BINARY"), e.getMessage)
  }

  test("kendallW: 1 on perfect agreement, 0 on perfect discordance, " +
    "NULL when every item ties everything") {
    val perfect = Seq(
      (1L, "s1", 10L), (1L, "s2", 20L), (1L, "s3", 30L),
      (2L, "s1", 1L), (2L, "s2", 5L), (2L, "s3", 9L))
      .toDF("item", "sys", "v")
    assert(Stats.kendallW(perfect, "item", "sys", "v")
      .collect().head.getAs[Double]("w") == 1.0)
    val opposite = Seq(
      (1L, "s1", 1L), (1L, "s2", 2L),
      (2L, "s1", 2L), (2L, "s2", 1L)).toDF("item", "sys", "v")
    assert(Stats.kendallW(opposite, "item", "sys", "v")
      .collect().head.getAs[Double]("w") == 0.0)
    val tied = Seq(
      (1L, "s1", 5L), (1L, "s2", 5L),
      (2L, "s1", 7L), (2L, "s2", 7L)).toDF("item", "sys", "v")
    val rt = Stats.kendallW(tied, "item", "sys", "v").collect().head
    assert(rt.isNullAt(rt.fieldIndex("w")))
  }

  test("bradleyTerry: the maxItems guard fires loudly on a wide taxonomy") {
    // the per-round driver collect is legal only for bounded
    // leaderboards — the rakeWeights loud-bound discipline
    val games = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("winner", "loser")
    val e = intercept[IllegalArgumentException] {
      Stats.bradleyTerry(games, "winner", "loser", iters = 1, maxItems = 3)
    }
    assert(e.getMessage.contains("maxItems"), e.getMessage)
    // at the bound it still fits
    assert(Stats.bradleyTerry(games, "winner", "loser", iters = 1,
      maxItems = 4).count() == 4L)
  }

  test("isotonicCalibrate: the nBuckets bound rejects unbounded PAV input") {
    val df = Seq((0.1, 0L), (0.9, 1L)).toDF("score", "label")
    val e = intercept[IllegalArgumentException] {
      Stats.isotonicCalibrate(df, "score", "label", nBuckets = 1001)
    }
    assert(e.getMessage.contains("nBuckets"), e.getMessage)
  }

  test("isotonicCalibrate: PAV pools violations, output is monotone") {
    // 4 occupied bins with rates 0.2, 0.8, 0.4, 1.0: bins 2 and 3
    // violate → pool to (0.8+0.4)-ish = 6/10 = 0.6; result monotone
    val rows =
      (1 to 10).map(i => (0.05, if (i <= 2) 1 else 0)) ++   // bin 1: 0.2
      (1 to 5).map(i => (0.30, if (i <= 4) 1 else 0)) ++    // bin ~4: 0.8
      (1 to 5).map(i => (0.60, if (i <= 2) 1 else 0)) ++    // bin ~8: 0.4
      (1 to 4).map(_ => (0.99, 1))                          // bin 12: 1.0
    val out = Stats.isotonicCalibrate(
        rows.toDF("score", "label"), "score", "label", nBuckets = 12)
      .collect().map(r => r.getLong(0) -> r).toMap
    val fitted = out.toSeq.sortBy(_._1).map(_._2.getAs[Double]("fitted_rate"))
    assert(fitted == fitted.sorted, s"not monotone: $fitted")
    // the two violating middle bins share the pooled 6/10 rate
    val mids = out.filterKeys(k => k > 1 && k < 12).values
      .map(_.getAs[Double]("fitted_rate")).toSet
    assert(mids == Set(0.6), s"pooled mid rates: $mids")
    assert(out(1L).getAs[Double]("fitted_rate") == 0.2)
    assert(out(12L).getAs[Double]("fitted_rate") == 1.0)
    // raw rates are reported unpooled
    assert(out(1L).getAs[Double]("raw_rate") == 0.2)
  }

  test("isotonicCalibrate: already-monotone data is untouched") {
    val rows = (1 to 10).map(i => (i.toDouble, if (i > 5) 1 else 0))
    val out = Stats.isotonicCalibrate(
        rows.toDF("score", "label"), "score", "label", nBuckets = 5)
      .collect()
    assert(out.forall(r =>
      r.getAs[Double]("raw_rate") == r.getAs[Double]("fitted_rate")))
  }

  test("cramersV: perfect association is 1, independence near 0") {
    // perfect: b == a over a 2x2 → V = 1
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val r1 = Stats.cramersV(perfect, "a", "b").collect().head
    assert(r1.getAs[Double]("cramers_v") == 1.0)
    assert(r1.getAs[Long]("dof") == 1L)
    // exact independence: uniform product table → chi2 = 0
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q") }
      yield (a, b)).toDF("a", "b")
    val r2 = Stats.cramersV(indep, "a", "b").collect().head
    assert(r2.getAs[Double]("chi2") == 0.0)
    assert(r2.getAs[Double]("cramers_v") == 0.0)
  }

  test("mcnemar: hand discordants; all-concordant reports 0") {
    // 3 (true,false), 1 (false,true) → (3−1)²/4 = 1.0
    val df = Seq((true, false), (true, false), (true, false),
      (false, true), (true, true), (false, false)).toDF("a", "b")
    val r = Stats.mcnemar(df, "a", "b").collect().head
    assert(r.getAs[Long]("n_10") == 3L && r.getAs[Long]("n_01") == 1L)
    assert(r.getAs[Double]("chi2") == 1.0)
    val same = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Stats.mcnemar(same, "a", "b").collect()
      .head.getAs[Double]("chi2") == 0.0)
  }

  test("liftTable: hand-computed deciles; last band closes at lift 1") {
    // 20 rows, scores 20..1, positives = the top 5 scores → band 1
    // (ranks 0-1) all positive, capture 2/5, lift (2/2)/(5/20) = 4
    val df = (1L to 20L).map(i => (i, (21 - i).toDouble,
      if (i <= 5) 1 else 0)).toDF("id", "s", "y")
    val out = Stats.liftTable(df, "id", "s", "y", nBuckets = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 10)
    assert(out(1L).getAs[Long]("n") == 2L)
    assert(out(1L).getAs[Double]("rate") == 1.0)
    assert(out(1L).getAs[Double]("cum_capture") == 0.4)
    assert(out(1L).getAs[Double]("cum_lift") == 4.0)
    assert(out(3L).getAs[Double]("cum_capture") == 1.0) // 5th pos at rank 4
    assert(out(10L).getAs[Double]("cum_lift") == 1.0)   // closes at base
    assert(out(10L).getAs[Double]("cum_capture") == 1.0)
  }

  test("kaplanMeier: hand curve, censoring, and the S=0 edge") {
    // durations (event flag): 1(1), 1(1), 2(1), 3(0 censored), 4(1)
    val df = Seq((1L, 1), (1L, 1), (2L, 1), (3L, 0), (4L, 1))
      .toDF("d", "ev")
    val out = Stats.kaplanMeier(df, "d", "ev")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_risk") == 5L)
    assert(out(1L).getAs[Double]("survival") == 0.6)     // 1 − 2/5
    assert(out(2L).getAs[Double]("survival") == 0.4)     // ×(1 − 1/3)
    assert(out(3L).getAs[Long]("n_censored") == 1L)
    assert(out(3L).getAs[Double]("survival") == 0.4)     // censored: flat
    assert(out(4L).getAs[Double]("survival") == 0.0)     // total churn
  }

  test("srmCheck: hand chi-square; unknown arm fails loudly") {
    val df = (Seq.fill(60)("a") ++ Seq.fill(40)("b")).toDF("arm")
    val out = Stats.srmCheck(df, "arm", Map("a" -> 0.5, "b" -> 0.5))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("expected") == 50.0)
    assert(out("a").getAs[Double]("chi2_term") == 2.0)   // 100/50
    assert(out("a").getAs[Double]("chi2") == 4.0)
    assert(out("a").getAs[Long]("dof") == 1L)
    val e = intercept[Exception] {
      Stats.srmCheck(df.limit(60), "arm", Map("a" -> 1.0)).collect()
      Stats.srmCheck(df, "arm", Map("a" -> 1.0)).collect()
    }
    assert(e.getMessage.contains("srmCheck") ||
      e.getMessage.contains("not in the design"))
  }

  test("cuped: perfect covariate removes all variance; theta = 1") {
    // Y = X exactly → theta 1, adjusted means equal across arms (all
    // between-unit variance explained), var_reduction 1
    val df = Seq((0, 1.0, 1.0), (0, 5.0, 5.0), (1, 2.0, 2.0),
      (1, 8.0, 8.0)).toDF("arm", "pre", "post")
    val out = Stats.cuped(df, "arm", "pre", "post")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[Double]("theta") == 1.0)
    assert(out(0).getAs[Double]("var_reduction") == 1.0)
    assert(out(1).getAs[Double]("var_reduction") == 1.0)
    // adjusted mean = ȳ_arm − (x̄_arm − x̄_pool) = pooled mean = 4.0
    assert(out(0).getAs[Double]("mean_adj") == 4.0)
    assert(out(1).getAs[Double]("mean_adj") == 4.0)
    // constant pre fails loudly
    val e = intercept[Exception] {
      Stats.cuped(Seq((0, 1.0, 2.0), (1, 1.0, 3.0))
        .toDF("arm", "pre", "post"), "arm", "pre", "post").collect()
    }
    assert(e.getMessage.contains("cuped"))
  }

  test("diffInDiff: hand-computed 2x2") {
    val df = Seq(
      (true, false, 10.0), (true, false, 12.0),   // t_pre mean 11
      (true, true, 20.0), (true, true, 22.0),     // t_post mean 21
      (false, false, 5.0), (false, false, 7.0),   // c_pre mean 6
      (false, true, 9.0), (false, true, 11.0))    // c_post mean 10
      .toDF("treated", "post", "v")
    val r = Stats.diffInDiff(df, "treated", "post", "v").collect().head
    assert(r.getAs[Double]("mean_t_pre") == 11.0)
    assert(r.getAs[Double]("mean_c_post") == 10.0)
    // (21−11) − (10−6) = 6
    assert(r.getAs[Double]("did") == 6.0)
    assert(r.getAs[Long]("n_rows") == 8L)
  }

  test("conformalGate: exact order-statistic threshold and coverage") {
    // 9 calibration scores 1..9; alpha=0.2 → k = ceil(10·0.8) = 8 →
    // qhat = 8.0; test scores 5 and 9 → covered, not
    val calset = (1L to 9L).map(i => (i, i.toDouble)).toDF("id", "s")
    val test = Seq((100L, 5.0), (101L, 9.0), (102L, 8.0))
      .toDF("id", "s")
    val out = Stats.conformalGate(calset, test, "id", "s", alpha = 0.2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(100L).getAs[Double]("qhat") == 8.0)
    assert(out(100L).getAs[Long]("n_cal") == 9L)
    assert(out(100L).getAs[Long]("k_rank") == 8L)
    assert(out(100L).getAs[Int]("is_covered") == 1)
    assert(out(101L).getAs[Int]("is_covered") == 0)
    assert(out(102L).getAs[Int]("is_covered") == 1) // boundary inclusive
  }

  test("conformalGate: k clamps to n on tiny calibration sets") {
    val calset = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "s")
    val test = Seq((10L, 1.5)).toDF("id", "s")
    // alpha=0.05: ceil(3·0.95) = 3 > n=2 → clamp to 2, qhat = 2.0
    val r = Stats.conformalGate(calset, test, "id", "s", 0.05)
      .collect().head
    assert(r.getAs[Long]("k_rank") == 2L)
    assert(r.getAs[Double]("qhat") == 2.0)
    assert(r.getAs[Int]("is_covered") == 1)
  }

  test("ewmaControlChart flags the spike, not the steady state") {
    // key 'k': 10,10,10,10,100 — the last point breaks the EWMA level
    // (|100−10| = 90) over 3× the mean-abs-dev scale (3·28.8 = 86.4)
    val df = Seq(("k", 1L, 10L), ("k", 2L, 10L), ("k", 3L, 10L),
      ("k", 4L, 10L), ("k", 5L, 100L)).toDF("key", "t", "x")
    val out = Stats.ewmaControlChart(df, "key", "t", "x")
      .collect().map(r => r.getAs[Long]("t") -> r).toMap
    assert(out(1L).getAs[Int]("n_hist") == 0)
    assert(out(1L).isNullAt(out(1L).fieldIndex("ewma")))
    assert(out(1L).getAs[Int]("is_alarm") == 0)
    // partial-history normalisation: rows 2-5 all predict level 10
    (2L to 5L).foreach { t =>
      assert(out(t).getAs[Double]("ewma") == 10.0, s"t=$t")
    }
    assert(out(5L).getAs[Double]("sigma") == 28.8)
    assert((2L to 4L).forall(out(_).getAs[Int]("is_alarm") == 0))
    assert(out(5L).getAs[Int]("is_alarm") == 1)
  }

  test("ewmaControlChart: constant series never alarms; keys isolate") {
    val df = ((1L to 20L).map(t => ("a", t, 7L)) ++
      (1L to 3L).map(t => ("b", t, 1000L))).toDF("key", "t", "x")
    val out = Stats.ewmaControlChart(df, "key", "t", "x").collect()
    assert(out.forall(_.getAs[Int]("is_alarm") == 0))
    val a = out.filter(_.getString(0) == "a")
    assert(a.filter(_.getAs[Int]("n_hist") > 0)
      .forall(_.getAs[Double]("ewma") == 7.0))
    // horizon caps history depth at 8
    assert(a.map(_.getAs[Int]("n_hist")).max == 8)
  }

  test("ewmaControlChart: geometric half-life weights, exact levels") {
    // 0,0,0,0,0,0,0,0,64: prediction AFTER the 64 (t=10) is
    // (64·1)/(1+.5+…+2^-7) = 64/1.9921875 ≈ 32.125490
    val df = ((1L to 8L).map(t => ("k", t, 0L)) :+ (("k", 9L, 64L)) :+
      (("k", 10L, 0L))).toDF("key", "t", "x")
    val out = Stats.ewmaControlChart(df, "key", "t", "x")
      .collect().map(r => r.getAs[Long]("t") -> r).toMap
    val expect = BigDecimal(64.0 / 1.9921875)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(10L).getAs[Double]("ewma") == expect)
  }

  test("rocPrAuc: perfect ranker scores AUC 1, random-ish in between") {
    // scores fully separate the classes → AUC = 1, AP = 1
    val perfect = Seq((1L, 0L), (2L, 0L), (10L, 1L), (11L, 1L))
      .toDF("s", "y")
    val p = Stats.rocPrAuc(perfect, "s", "y").collect().head
    assert(p.getAs[Long]("n_pos") == 2L && p.getAs[Long]("n_neg") == 2L)
    assert(p.getAs[Double]("auc") == 1.0)
    assert(p.getAs[Double]("avg_precision") == 1.0)
    // reversed ranker → AUC = 0
    val worst = Seq((10L, 0L), (11L, 0L), (1L, 1L), (2L, 1L))
      .toDF("s", "y")
    assert(Stats.rocPrAuc(worst, "s", "y").collect().head
      .getAs[Double]("auc") == 0.0)
  }

  test("rocPrAuc: all-tied scores give AUC 1/2 and AP = prevalence") {
    // one distinct score: midrank AUC = 0.5 exactly; the single
    // threshold step has precision = prevalence = 3/10
    val df = (1L to 10L).map(i => (5L, if (i <= 3) 1L else 0L))
      .toDF("s", "y")
    val r = Stats.rocPrAuc(df, "s", "y").collect().head
    assert(r.getAs[Double]("auc") == 0.5)
    assert(r.getAs[Double]("avg_precision") == 0.3)
  }

  test("rocPrAuc: hand-checked tied group, exact midrank value") {
    // scores: neg at 1, {pos,neg} tied at 2, pos at 3
    // 2U = pos@2·(2·1 + 1) + pos@3·(2·2 + 0) = 3 + 4 = 7 → AUC 7/8
    val df = Seq((1L, 0L), (2L, 1L), (2L, 0L), (3L, 1L)).toDF("s", "y")
    val r = Stats.rocPrAuc(df, "s", "y").collect().head
    assert(r.getAs[Double]("auc") == 0.875)
    // AP: threshold 3 → (1/2)·(1/1); threshold 2 → (1/2)·(2/3)
    val expAp = BigDecimal(0.5).setScale(6) +
      BigDecimal(2.0 / 6.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(r.getAs[Double]("avg_precision") == expAp.toDouble)
  }

  test("rocPrAuc raises on single-class input") {
    val df = Seq((1L, 1L), (2L, 1L)).toDF("s", "y")
    val e = intercept[Exception] {
      Stats.rocPrAuc(df, "s", "y").collect()
    }
    assert(e.getMessage != null)
  }

  test("wasserstein1: shifted copy moves exactly the shift") {
    // b = a + 7 pointwise → W1 = 7
    val a = (1L to 50L).map(v => (v, "a"))
    val b = (1L to 50L).map(v => (v + 7L, "b"))
    val df = (a ++ b).toDF("v", "g")
    val r = Stats.wasserstein1(df, "v", "g", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 50L && r.getAs[Long]("n_b") == 50L)
    assert(r.getAs[Double]("w1") == 7.0)
    // scaled form: 7 · 50 · 50
    assert(r.getAs[Long]("w1_scaled") == 7L * 50L * 50L)
  }

  test("wasserstein1: identical slices are distance zero; " +
    "two-point asymmetric case is exact") {
    val same = ((1L to 9L).map(v => (v, "x")) ++
      (1L to 9L).map(v => (v, "y"))).toDF("v", "g")
    assert(Stats.wasserstein1(same, "v", "g", "x", "y")
      .collect().head.getAs[Double]("w1") == 0.0)
    // a = {0,0,10}, b = {10}: quantile view — 2/3 of a's mass moves 10
    // → W1 = 20/3
    val df2 = Seq((0L, "a"), (0L, "a"), (10L, "a"), (10L, "b"))
      .toDF("v", "g")
    val r2 = Stats.wasserstein1(df2, "v", "g", "a", "b").collect().head
    val exp = BigDecimal(20.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r2.getAs[Double]("w1") == exp)
  }

  test("anovaOneWay: hand-computed two-group case") {
    // a={1,2,3}, b={4,5,6}: SSB=13.5, SSW=4, F=13.5/(4/4)=13.5
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "x")
    val r = Stats.anovaOneWay(df, "g", "x").collect().head
    assert(r.getAs[Long]("k_groups") == 2L)
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Double]("ss_between") == 13.5)
    assert(r.getAs[Double]("ss_within") == 4.0)
    assert(r.getAs[Double]("f_stat") == 13.5)
    def d6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("eta2") == d6(13.5 / 17.5))
    assert(r.getAs[Double]("omega2") == d6(12.5 / 18.5))
  }

  test("anovaOneWay: zero within-variance reports NULL F, eta2 = 1") {
    val df = Seq(("a", 5L), ("a", 5L), ("b", 9L), ("b", 9L))
      .toDF("g", "x")
    val r = Stats.anovaOneWay(df, "g", "x").collect().head
    assert(r.isNullAt(r.fieldIndex("f_stat")))
    assert(r.getAs[Double]("eta2") == 1.0)
    assert(r.getAs[Double]("ss_within") == 0.0)
  }

  test("anovaOneWay raises on degenerate designs") {
    val one = Seq(("a", 1L), ("a", 2L)).toDF("g", "x")
    assert(intercept[Exception] {
      Stats.anovaOneWay(one, "g", "x").collect()
    }.getMessage != null)
    val saturated = Seq(("a", 1L), ("b", 2L)).toDF("g", "x")
    assert(intercept[Exception] {
      Stats.anovaOneWay(saturated, "g", "x").collect()
    }.getMessage != null)
  }

  test("fairnessAudit: hand confusion tables, NULL on missing strata") {
    // g1: preds 1,1,0,0 / ys 1,0,1,0; g2: preds 1,1 / ys 1,1
    val df = Seq(
      ("g1", 1L, 1L), ("g1", 1L, 0L), ("g1", 0L, 1L), ("g1", 0L, 0L),
      ("g2", 1L, 1L), ("g2", 1L, 1L)).toDF("g", "p", "y")
    val out = Stats.fairnessAudit(df, "g", "p", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g1").getAs[Long]("n_rows") == 4L)
    assert(out("g1").getAs[Double]("sel_rate") == 0.5)
    assert(out("g2").getAs[Double]("sel_rate") == 1.0)
    assert(out("g1").getAs[Double]("dp_ratio") == 0.5)
    assert(out("g2").getAs[Double]("dp_ratio") == 1.0)
    assert(out("g1").getAs[Double]("tpr") == 0.5)
    assert(out("g2").getAs[Double]("tpr") == 1.0)
    // overall TPR = 3/4 → gaps −0.25 / +0.25
    assert(out("g1").getAs[Double]("tpr_gap") == -0.25)
    assert(out("g2").getAs[Double]("tpr_gap") == 0.25)
    // g2 has no negatives → fpr and fpr_gap NULL, not 0
    assert(out("g2").isNullAt(out("g2").fieldIndex("fpr")))
    assert(out("g2").isNullAt(out("g2").fieldIndex("fpr_gap")))
    assert(out("g1").getAs[Double]("fpr") == 0.5)
    assert(out("g1").getAs[Double]("fpr_gap") == 0.0)
  }

  test("wasserstein1 raises when a slice is empty") {
    val df = Seq((1L, "a"), (2L, "a")).toDF("v", "g")
    val e = intercept[Exception] {
      Stats.wasserstein1(df, "v", "g", "a", "nope").collect()
    }
    assert(e.getMessage != null)
  }

  test("psi: identical slices score exactly 0; a shifted slice " +
    "clears the 0.2 bar; missing current answers NULL") {
    // ref = cur = 1..10, one per decile bin → every p_ref = p_cur
    val same = (1 to 10).flatMap(v => Seq(
      ("k", v.toLong * 2, v.toDouble, true),
      ("k", v.toLong * 2 + 1, v.toDouble, false)))
    val shifted = (1 to 10).flatMap(v => Seq(
      ("s", v.toLong * 2, v.toDouble, true),
      ("s", v.toLong * 2 + 1, v.toDouble + 7.0, false)))
    val refOnly = (1 to 10).map(v => ("r", v.toLong, v.toDouble, true))
    val df = (same ++ shifted ++ refOnly)
      .toDF("k", "id", "v", "is_ref")
    val out = Stats.psi(df, "k", "id", "v", "is_ref", bins = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getAs[Double]("psi") == 0.0)
    assert(out("s").getAs[Double]("psi") > 0.2)
    assert(out("r").isNullAt(out("r").fieldIndex("psi")))
    assert(out("k").getAs[Long]("n_ref") == 10L &&
      out("k").getAs[Long]("n_cur") == 10L)
    intercept[IllegalArgumentException] {
      Stats.psi(df, "k", "id", "v", "is_ref", bins = 1)
    }
  }

  test("clusterAgreement: identical labelings score ARI = NMI = 1; " +
    "a single-cluster side answers ARI 0 / NMI NULL") {
    val df = (0 until 60).map(i => (i % 3, i % 3)).toDF("a", "b")
    val r = Stats.clusterAgreement(df, "a", "b").collect().head
    assert(r.getAs[Long]("n_rows") == 60L)
    assert(r.getAs[Long]("n_clusters_a") == 3L)
    assert(r.getAs[Double]("ari") == 1.0)
    assert(r.getAs[Double]("nmi") == 1.0)
    val one = (0 until 60).map(i => (i % 3, 0)).toDF("a", "b")
    val r1 = Stats.clusterAgreement(one, "a", "b").collect().head
    assert(r1.getAs[Double]("ari") == 0.0)
    assert(r1.isNullAt(r1.fieldIndex("nmi")))
  }

  test("cramerVonMises: hand T on disjoint samples; identical " +
    "distributions stay insignificant") {
    // x = {1,2}, y = {3,4}: U = 2·0 + 2·(2²+2²) = 16,
    // T = 16/16 − 15/24 = 0.375 → not significant at 0.461
    val df = Seq(("k", 1L, 1.0, true), ("k", 2L, 2.0, true),
      ("k", 3L, 3.0, false), ("k", 4L, 4.0, false))
      .toDF("k", "id", "v", "x")
    val r = Stats.cramerVonMises(df, "k", "id", "v", "x")
      .collect().head
    assert(r.getAs[Long]("n_x") == 2L && r.getAs[Long]("n_y") == 2L)
    assert(r.getAs[Double]("t_stat") == 0.375)
    assert(r.getAs[Int]("significant") == 0)
    // a fully separated larger pair IS significant
    val big = ((1 to 40).map(i => ("g", i.toLong, i.toDouble, true)) ++
      (1 to 40).map(i => ("g", 100L + i, 50.0 + i, false)))
      .toDF("k", "id", "v", "x")
    val rb = Stats.cramerVonMises(big, "k", "id", "v", "x")
      .collect().head
    assert(rb.getAs[Int]("significant") == 1)
  }

  test("ols2: exact plane recovered with R² = 1 (t NULL at zero " +
    "residual); collinear regressors answer NULL; n < 4 is loud") {
    // y = 2 + 3·x1 + 5·x2 on 5 non-collinear points
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 1L))
    val exact = pts.map { case (u, v) => ("p", 2L + 3 * u + 5 * v, u, v) }
    val noisy = pts.zipWithIndex.map { case ((u, v), i) =>
      ("q", 2L + 3 * u + 5 * v + (if (i % 2 == 0) 1L else -1L), u, v) }
    val coll = (1L to 5L).map(i => ("c", i * 2L, i, i * 2L))
    val out = Stats.ols2((exact ++ noisy ++ coll)
      .toDF("k", "y", "x1", "x2"), "k", "y", "x1", "x2")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("p").getAs[Double]("slope_x1") == 3.0)
    assert(out("p").getAs[Double]("slope_x2") == 5.0)
    assert(out("p").getAs[Double]("r2") == 1.0)
    assert(out("p").isNullAt(out("p").fieldIndex("t_x1")))
    assert(out("q").getAs[Double]("r2") < 1.0)
    assert(!out("q").isNullAt(out("q").fieldIndex("t_x1")))
    assert(out("c").isNullAt(out("c").fieldIndex("slope_x1")))
    val e = intercept[Exception] {
      Stats.ols2(Seq(("s", 1L, 1L, 1L), ("s", 2L, 2L, 1L))
        .toDF("k", "y", "x1", "x2"), "k", "y", "x1", "x2").collect()
    }
    assert(e.getMessage.contains(">= 4"), e.getMessage)
  }

  test("weightedPercentiles: the median unit lands in the heavy row; " +
    "zero weights drop; validation is loud") {
    // weights (1,4,5) on values (1,2,10): W=10 → p25/p50 hit v=2,
    // p90 hits v=10 (the unweighted median would be 2 regardless)
    val df = Seq(("k", 1L, 1L, 1L), ("k", 2L, 2L, 4L),
      ("k", 3L, 10L, 5L), ("k", 4L, 99L, 0L))
      .toDF("k", "id", "v", "w")
    val out = Stats.weightedPercentiles(df, "k", "id", "v", "w",
      qsPermille = Seq(250, 500, 900))
      .collect().map(r => r.getAs[Long]("q_permille") ->
        ((r.getAs[Long]("value"), r.getAs[Long]("total_weight")))).toMap
    assert(out(250L) == ((2L, 10L)))
    assert(out(500L) == ((2L, 10L)))
    assert(out(900L) == ((10L, 10L)))
    intercept[IllegalArgumentException] {
      Stats.weightedPercentiles(df, "k", "id", "v", "w", Seq(0))
    }
    intercept[IllegalArgumentException] {
      Stats.weightedPercentiles(df, "k", "id", "v", "w", Seq(500, 500))
    }
  }

  test("chao1: hand richness on planted frequency spectra") {
    // "a b b c c": V=3, f1=1, f2=2 → chao1 = 3 + 0 = 3, cov = 0.8;
    // "x y z": all hapax → chao1 = 3 + 3·2/2 = 6, cov = 1 − 3/3 = 0
    val df = Seq(("s", "a b b c c"), ("h", "x y z"))
      .toDF("k", "text")
    val out = Stats.chao1(df, "k", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s").getAs[Long]("n_types") == 3L)
    assert(out("s").getAs[Long]("f1") == 1L)
    assert(out("s").getAs[Long]("f2") == 2L)
    assert(out("s").getAs[Double]("chao1") == 3.0)
    assert(out("s").getAs[Double]("coverage") == 0.8)
    assert(out("h").getAs[Double]("chao1") == 6.0)
    assert(out("h").getAs[Double]("coverage") == 0.0)
  }

  test("coxPh: a planted protective/hazardous covariate is recovered " +
    "with the right sign; constant covariate answers NULL; bad event " +
    "flag is loud") {
    // hand first Newton step on {(1,1,x=1),(2,1,x=0),(3,0,x=0)}:
    // U = 1 − 1/3 = 0.666667, I = 1/3 − 1/9 = 0.222222 → β₁ ≈ 3.0
    val tiny = Seq(("k", 1L, 1L, 1L), ("k", 2L, 1L, 0L),
      ("k", 3L, 0L, 0L)).toDF("k", "t", "d", "x")
    val b1 = Stats.coxPh(tiny, "k", "t", "d", "x", steps = 1)
      .collect().head.getAs[Double]("beta")
    assert(b1 > 2.9 && b1 < 3.1, s"one-step beta $b1")
    // planted: x = 1 subjects convert on day 1-10, x = 0 on day
    // 40-50 (half censored late) → hazard rises with x
    val planted = ((1 to 120).map(i => ("p", (i % 10 + 1).toLong, 1L, 1L)) ++
      (1 to 120).map(i => ("p", (40 + i % 10).toLong,
        (i % 2).toLong, 0L))).toDF("k", "t", "d", "x")
    val rp = Stats.coxPh(planted, "k", "t", "d", "x").collect().head
    assert(rp.getAs[Double]("beta") > 0.0)
    assert(rp.getAs[Double]("hazard_ratio") > 1.0)
    assert(rp.getAs[Double]("z") > 1.96)
    assert(rp.getAs[Long]("n_events") == 180L)
    val const = (1 to 20).map(i =>
      ("c", i.toLong, (i % 2).toLong, 7L)).toDF("k", "t", "d", "x")
    val rc = Stats.coxPh(const, "k", "t", "d", "x").collect().head
    assert(rc.isNullAt(rc.fieldIndex("beta")))
    val e = intercept[Exception] {
      Stats.coxPh(Seq(("b", 1L, 2L, 1L)).toDF("k", "t", "d", "x"),
        "k", "t", "d", "x").collect()
    }
    assert(e.getMessage.contains("not 0/1"), e.getMessage)
  }

  test("plattScaling: a separable score earns a positive slope and " +
    "sub-ln2 loss; constant scores answer NULL; bad labels are loud") {
    val df = (1 to 100).map(i =>
      (i.toDouble / 100.0, if (i > 55) 1L else 0L))
      .toDF("score", "y")
    val r = Stats.plattScaling(df, "score", "y").collect().head
    assert(r.getAs[Long]("n_rows") == 100L)
    assert(r.getAs[Long]("n_pos") == 45L)
    assert(r.getAs[Double]("a") > 0.0)
    assert(r.getAs[Double]("log_loss") < math.log(2.0))
    val const = (1 to 20).map(i => (0.5, (i % 2).toLong))
      .toDF("score", "y")
    val rc = Stats.plattScaling(const, "score", "y").collect().head
    assert(rc.isNullAt(rc.fieldIndex("a")))
    val e = intercept[Exception] {
      Stats.plattScaling(Seq((0.1, 2L)).toDF("score", "y"),
        "score", "y").collect()
    }
    assert(e.getMessage.contains("not 0/1"), e.getMessage)
  }

  test("logRank: hand-computed two-group case; mirrored groups score " +
    "chi2 = 0; bad group flag is loud") {
    // g0: (1,ev),(2,ev),(3,cens); g1: (1,ev),(3,ev),(4,cens) —
    // t=1: E1 = 2·3/6 = 1, V = 2·¼·⅘ = .4; t=2: E1 = .5, V = .25;
    // t=3: E1 = ⅔, V = 2/9 → O1 = 2, E1 = 2.166667, V = .872222
    val df = Seq((1L, 1, 0), (2L, 1, 0), (3L, 0, 0),
      (1L, 1, 1), (3L, 1, 1), (4L, 0, 1)).toDF("t", "d", "g")
    val r = Stats.logRank(df, "t", "d", "g").collect().head
    assert(r.getAs[Long]("n_events_g1") == 2L)
    assert(math.abs(r.getAs[Double]("expected_g1") - 2.166667) < 1e-6)
    assert(math.abs(r.getAs[Double]("variance") - 0.872222) < 1e-6)
    assert(math.abs(r.getAs[Double]("z") - -0.178457) < 1e-4)
    assert(r.getAs[Int]("significant") == 0)
    // mirrored groups: identical curves → O1 = E1 exactly, chi2 = 0
    val mir = Seq((1L, 1, 0), (2L, 0, 0), (1L, 1, 1), (2L, 0, 1))
      .toDF("t", "d", "g")
    val rm = Stats.logRank(mir, "t", "d", "g").collect().head
    assert(rm.getAs[Double]("z") == 0.0)
    assert(rm.getAs[Double]("chi2") == 0.0)
    val e = intercept[Exception] {
      Stats.logRank(Seq((1L, 1, 2)).toDF("t", "d", "g"),
        "t", "d", "g").collect()
    }
    assert(e.getMessage.contains("not 0/1"), e.getMessage)
  }

  test("jarqueBera: hand moments on {1,2,3}; constant series answers " +
    "NULL; a planted outlier rejects normality") {
    // n=3: M2 = 6, M3 = 0, M4 = 54 → skew 0, kurt 1.5,
    // JB = .5·(2.25/4) = 0.28125
    val df = Seq(("k", 1L), ("k", 2L), ("k", 3L)).toDF("k", "x")
    val r = Stats.jarqueBera(df, "k", "x").collect().head
    assert(r.getAs[Long]("n_obs") == 3L)
    assert(r.getAs[Double]("mean") == 2.0)
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(r.getAs[Double]("kurtosis") == 1.5)
    assert(r.getAs[Double]("jb") == 0.28125)
    assert(r.getAs[Int]("rejected") == 0)
    val const = (1 to 10).map(_ => ("c", 5L)).toDF("k", "x")
    val rc = Stats.jarqueBera(const, "k", "x").collect().head
    assert(rc.isNullAt(rc.fieldIndex("skewness")))
    assert(rc.isNullAt(rc.fieldIndex("jb")))
    assert(rc.getAs[Int]("rejected") == 0)
    // 50 zeros + one 100: skew ≈ 6.93 → JB far past 5.99
    val out = ((1 to 50).map(_ => ("o", 0L)) :+ (("o", 100L)))
      .toDF("k", "x")
    val ro = Stats.jarqueBera(out, "k", "x").collect().head
    assert(ro.getAs[Double]("skewness") > 6.0)
    assert(ro.getAs[Double]("jb") > 100.0)
    assert(ro.getAs[Int]("rejected") == 1)
  }

  test("rmst: hand step areas; horizon below the first event time " +
    "answers tau; censoring-only tail holds the curve") {
    // (2,ev),(5,cens): S = 1 on [0,2), .5 on [2,10) →
    // rmst(10) = 2 + .5·3 + .5·5 = 6
    val df = Seq((2L, 1), (5L, 0)).toDF("t", "d")
    val r = Stats.rmst(df, "t", "d", tau = 10L).collect().head
    assert(r.getAs[Long]("tau") == 10L)
    assert(r.getAs[Double]("rmst") == 6.0)
    // horizon cuts inside the second segment: 2 + .5·(4−2) = 3
    val r4 = Stats.rmst(df, "t", "d", tau = 4L).collect().head
    assert(r4.getAs[Double]("rmst") == 3.0)
    // every event at/after the horizon → S = 1 throughout, rmst = tau
    val r1 = Stats.rmst(df, "t", "d", tau = 2L).collect().head
    assert(r1.getAs[Double]("rmst") == 2.0)
    val e = intercept[IllegalArgumentException] {
      Stats.rmst(df, "t", "d", tau = 0L)
    }
    assert(e.getMessage.contains("tau"), e.getMessage)
  }

  test("targetEncode: shrinkage pulls a rare category toward the " +
    "global mean; m = 0 degenerates to the raw mean") {
    // a: {10,20}, b: {40} → global mean 70/3 = 23.333333;
    // m=1: enc_a = (30+23.333333)/3 = 17.777778,
    //      enc_b = (40+23.333333)/2 = 31.666667
    val df = Seq(("a", 10L), ("a", 20L), ("b", 40L)).toDF("c", "y")
    val out = Stats.targetEncode(df, "c", "y", m = 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Long]("n") == 2L)
    assert(out("a").getAs[Double]("raw_mean") == 15.0)
    assert(math.abs(out("a").getAs[Double]("global_mean")
      - 23.333333) < 1e-9)
    assert(math.abs(out("a").getAs[Double]("encoded")
      - 17.777778) < 1e-9)
    // (40+23.333333)/2 = 31.6666665 sits on a decimal half whose
    // DOUBLE is a hair below it → d6 rounds to 31.666666 (both
    // engines see the identical double, so the oracle agrees)
    assert(math.abs(out("b").getAs[Double]("encoded")
      - 31.666666) < 1e-9)
    // rare category sits closer to the global mean than its raw mean
    assert(math.abs(out("b").getAs[Double]("encoded") - 23.333333) <
      math.abs(out("b").getAs[Double]("raw_mean") - 23.333333))
    val raw = Stats.targetEncode(df, "c", "y", m = 0.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(raw("a").getAs[Double]("encoded") == 15.0)
    assert(raw("b").getAs[Double]("encoded") == 40.0)
    val e = intercept[IllegalArgumentException] {
      Stats.targetEncode(df, "c", "y", m = -1.0)
    }
    assert(e.getMessage.contains("smoothing"), e.getMessage)
  }

  test("fisherExact: the tea-tasting table earns p = 0.485714; " +
    "independent margins answer p = 1; n past maxN and bad flags " +
    "are loud") {
    // margins 4/4 over n = 8, a = 3: pmf = {1,16,36,16,1}/70 →
    // two-sided p = (16+1+16+1)/70 = 0.485714 (d6-quantized pmfs)
    val tea = (Seq.fill(3)((1, 1)) ++ Seq.fill(1)((1, 0)) ++
      Seq.fill(1)((0, 1)) ++ Seq.fill(3)((0, 0))).toDF("g", "y")
    val r = Stats.fisherExact(tea, "g", "y").collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Long]("a") == 3L)
    assert(r.getAs[Long]("r1") == 4L && r.getAs[Long]("c1") == 4L)
    assert(math.abs(r.getAs[Double]("pmf_observed") - 0.228571) < 1e-9)
    assert(math.abs(r.getAs[Double]("p_two_sided") - 0.485714) < 2e-6)
    assert(r.getAs[Int]("significant") == 0)
    // a perfectly association-free table: every k is as likely or
    // likelier than the balanced observed cell → p = 1 (within d6)
    val flat = (Seq.fill(2)((1, 1)) ++ Seq.fill(2)((1, 0)) ++
      Seq.fill(2)((0, 1)) ++ Seq.fill(2)((0, 0))).toDF("g", "y")
    val rf = Stats.fisherExact(flat, "g", "y").collect().head
    assert(math.abs(rf.getAs[Double]("p_two_sided") - 1.0) < 1e-5)
    // a strongly diagonal table IS significant
    val diag = (Seq.fill(8)((1, 1)) ++ Seq.fill(8)((0, 0)))
      .toDF("g", "y")
    val rd = Stats.fisherExact(diag, "g", "y").collect().head
    assert(rd.getAs[Double]("p_two_sided") < 0.001)
    assert(rd.getAs[Int]("significant") == 1)
    val loud = intercept[Exception] {
      Stats.fisherExact((1 to 20).map(i => (i % 2, i % 3 % 2))
        .toDF("g", "y"), "g", "y", maxN = 10L).collect()
    }
    assert(loud.getMessage.contains("exceeds maxN"), loud.getMessage)
    val bad = intercept[Exception] {
      Stats.fisherExact(Seq((2, 1)).toDF("g", "y"), "g", "y").collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("poissonRateTest: equal per-exposure rates under unequal " +
    "exposures score z = 0; a doubled second-half rate clears 1.96; " +
    "bad arm flag is loud") {
    // t0 = 3, t1 = 1 → p = 1/4; x0 = 30, x1 = 10 → rates equal,
    // E[x1] = 10 exactly → z = 0
    val eq = ((1 to 30).map(_ => ("k", 0)) ++
      (1 to 10).map(_ => ("k", 1))).toDF("k", "a")
    val r = Stats.poissonRateTest(eq, "k", "a", 3L, 1L)
      .collect().head
    assert(r.getAs[Long]("x0") == 30L && r.getAs[Long]("x1") == 10L)
    assert(r.getAs[Double]("rate0") == 10.0)
    assert(r.getAs[Double]("rate1") == 10.0)
    assert(r.getAs[Double]("z") == 0.0)
    assert(r.getAs[Int]("significant") == 0)
    // equal exposures, 5 vs 25 events: z = 20/sqrt(7.5) = 3.651484
    val spike = ((1 to 5).map(_ => ("k", 0)) ++
      (1 to 25).map(_ => ("k", 1))).toDF("k", "a")
    val rs = Stats.poissonRateTest(spike, "k", "a", 1L, 1L)
      .collect().head
    assert(math.abs(rs.getAs[Double]("z") - 3.651484) < 1e-6)
    assert(rs.getAs[Int]("significant") == 1)
    val e = intercept[Exception] {
      Stats.poissonRateTest(Seq(("k", 7)).toDF("k", "a"),
        "k", "a", 1L, 1L).collect()
    }
    assert(e.getMessage.contains("not 0/1"), e.getMessage)
  }

  test("bartlett: hand two-group case; a zero-variance group answers " +
    "NULL; a 1-row group is loud") {
    // {1,2,3} (s² = 1) vs {2,4,6} (s² = 4): sp² = 2.5,
    // T = (4·ln2.5 − 2·ln4)/ (1 + (1 − 1/4)/3) = 0.892576/1.25
    val df = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 2L), ("g2", 4L), ("g2", 6L)).toDF("g", "x")
    val r = Stats.bartlett(df, "g", "x").collect().head
    assert(r.getAs[Long]("k") == 2L)
    assert(r.getAs[Long]("n_total") == 6L)
    assert(r.getAs[Double]("pooled_var") == 2.5)
    assert(math.abs(r.getAs[Double]("t_stat") - 0.714061) < 1e-5)
    assert(r.getAs[Int]("significant") == 0)
    // equal variances: T ≈ 0 and never significant
    val same = Seq(("a", 1L), ("a", 3L), ("b", 5L), ("b", 7L))
      .toDF("g", "x")
    val req = Stats.bartlett(same, "g", "x").collect().head
    assert(math.abs(req.getAs[Double]("t_stat")) < 1e-6)
    val const = Seq(("a", 1L), ("a", 2L), ("b", 5L), ("b", 5L))
      .toDF("g", "x")
    val rc = Stats.bartlett(const, "g", "x").collect().head
    assert(rc.isNullAt(rc.fieldIndex("t_stat")))
    val loud = intercept[Exception] {
      Stats.bartlett(Seq(("a", 1L), ("a", 2L), ("b", 9L))
        .toDF("g", "x"), "g", "x").collect()
    }
    assert(loud.getMessage.contains("fewer than 2"), loud.getMessage)
  }

  test("olsInfluence: hand leverages and Cook's D on a planted " +
    "outlier; constant x answers NULL; n < 4 is loud") {
    // (1,1),(2,2),(3,3),(4,10): b = 2.8, a = -3, mse = 5.4,
    // leverages .7/.3/.3/.7, D = 1.037037/.020408/.32/2.333333
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 10L))
      .toDF("x", "y")
    val out = Stats.olsInfluence(df, "x", "y")
      .collect().map(r => r.getAs[Long]("x") -> r).toMap
    assert(out(1L).getAs[Double]("leverage") == 0.7)
    assert(out(2L).getAs[Double]("leverage") == 0.3)
    assert(out(1L).getAs[Double]("residual") == 1.2)
    assert(math.abs(out(1L).getAs[Double]("cooks_d") - 1.037037) < 1e-6)
    assert(math.abs(out(2L).getAs[Double]("cooks_d") - 0.020408) < 1e-6)
    assert(math.abs(out(4L).getAs[Double]("cooks_d") - 2.333333) < 1e-6)
    // 4/n = 1: the endpoints scream, the middle doesn't
    assert(out(1L).getAs[Int]("influential") == 1)
    assert(out(2L).getAs[Int]("influential") == 0)
    assert(out(4L).getAs[Int]("influential") == 1)
    val const = Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L))
      .toDF("x", "y")
    val rc = Stats.olsInfluence(const, "x", "y").collect().head
    assert(rc.isNullAt(rc.fieldIndex("leverage")))
    assert(rc.isNullAt(rc.fieldIndex("cooks_d")))
    val loud = intercept[Exception] {
      Stats.olsInfluence(Seq((1L, 1L), (2L, 2L), (3L, 3L))
        .toDF("x", "y"), "x", "y").collect()
    }
    assert(loud.getMessage.contains("< 4"), loud.getMessage)
  }

  test("cohensD: hand effect size {1,2,3} vs {4,5,6}; constant arms " +
    "answer NULL; tiny arm and bad flag are loud") {
    // sp = 1 exactly → d = 3, g = 3·(1 − 3/15) = 2.4
    val df = Seq((0, 1L), (0, 2L), (0, 3L), (1, 4L), (1, 5L), (1, 6L))
      .toDF("a", "x")
    val r = Stats.cohensD(df, "a", "x").collect().head
    assert(r.getAs[Long]("n0") == 3L && r.getAs[Long]("n1") == 3L)
    assert(r.getAs[Double]("mean0") == 2.0)
    assert(r.getAs[Double]("mean1") == 5.0)
    assert(r.getAs[Double]("pooled_sd") == 1.0)
    assert(r.getAs[Double]("d") == 3.0)
    assert(r.getAs[Double]("hedges_g") == 2.4)
    val const = Seq((0, 7L), (0, 7L), (1, 7L), (1, 7L)).toDF("a", "x")
    val rc = Stats.cohensD(const, "a", "x").collect().head
    assert(rc.isNullAt(rc.fieldIndex("d")))
    assert(rc.isNullAt(rc.fieldIndex("hedges_g")))
    val tiny = intercept[Exception] {
      Stats.cohensD(Seq((0, 1L), (0, 2L), (1, 5L)).toDF("a", "x"),
        "a", "x").collect()
    }
    assert(tiny.getMessage.contains("no variance to pool"),
      tiny.getMessage)
    val bad = intercept[Exception] {
      Stats.cohensD(Seq((2, 1L), (0, 1L)).toDF("a", "x"), "a", "x")
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("changepoint: a planted level shift is located exactly; ties " +
    "pick the earliest split; constant series scores zero; n < 4 is " +
    "loud") {
    // {0,0,10,10}: split after t=2 explains all variance —
    // red = sseT/n = 100/4 = 25
    val df = Seq((1L, 0L), (2L, 0L), (3L, 10L), (4L, 10L))
      .toDF("t", "y")
    val r = Stats.changepoint(df, "t", "y").collect().head
    assert(r.getAs[Long]("split_at") == 2L)
    assert(r.getAs[Long]("n_left") == 2L)
    assert(r.getAs[Long]("n_right") == 2L)
    assert(r.getAs[Double]("mean_left") == 0.0)
    assert(r.getAs[Double]("mean_right") == 10.0)
    assert(r.getAs[Double]("sse_reduction_per_n") == 25.0)
    // {0,5,0,5}: splits k=1 and k=3 tie → earliest (t=1) wins
    val tie = Seq((1L, 0L), (2L, 5L), (3L, 0L), (4L, 5L))
      .toDF("t", "y")
    val rt = Stats.changepoint(tie, "t", "y").collect().head
    assert(rt.getAs[Long]("split_at") == 1L)
    val const = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L))
      .toDF("t", "y")
    val rc = Stats.changepoint(const, "t", "y").collect().head
    assert(rc.getAs[Double]("sse_reduction_per_n") == 0.0)
    val loud = intercept[Exception] {
      Stats.changepoint(Seq((1L, 1L), (2L, 2L), (3L, 3L))
        .toDF("t", "y"), "t", "y").collect()
    }
    assert(loud.getMessage.contains("< 4"), loud.getMessage)
  }

  test("mantelHaenszel: two identical OR=3 strata pool to OR 3; a " +
    "flat table scores z = 0; bad flags are loud") {
    def stratum(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, 1, 1)) ++ Seq.fill(b)((s, 1, 0)) ++
        Seq.fill(c)((s, 0, 1)) ++ Seq.fill(d)((s, 0, 0))
    val df = (stratum("s1", 3, 1, 1, 1) ++ stratum("s2", 3, 1, 1, 1))
      .toDF("s", "g", "y")
    val r = Stats.mantelHaenszel(df, "s", "g", "y").collect().head
    assert(r.getAs[Long]("k_strata") == 2L)
    assert(math.abs(r.getAs[Double]("or_mh") - 3.0) < 1e-4)
    assert(r.getAs[Double]("z") > 0.0)
    val flat = stratum("s1", 5, 5, 5, 5).toDF("s", "g", "y")
    val rf = Stats.mantelHaenszel(flat, "s", "g", "y").collect().head
    assert(rf.getAs[Double]("or_mh") == 1.0)
    assert(rf.getAs[Double]("z") == 0.0)
    assert(rf.getAs[Int]("significant") == 0)
    val bad = intercept[Exception] {
      Stats.mantelHaenszel(Seq(("s", 2, 1)).toDF("s", "g", "y"),
        "s", "g", "y").collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("cochranArmitage: hand z on a perfect dose response; flat " +
    "rates score 0; all-case input answers NULL") {
    // doses 1/2/3, rates 0/.5/1: U = 300, Var = 4500 → z = 4.472136
    def dose(w: Int, n: Int, r: Int) =
      Seq.fill(r)((w, 1)) ++ Seq.fill(n - r)((w, 0))
    val df = (dose(1, 10, 0) ++ dose(2, 10, 5) ++ dose(3, 10, 10))
      .toDF("w", "y")
    val r = Stats.cochranArmitage(df, "w", "y").collect().head
    assert(r.getAs[Long]("k_doses") == 3L)
    assert(r.getAs[Long]("n_cases") == 15L)
    assert(math.abs(r.getAs[Double]("z") - 4.472136) < 1e-6)
    assert(r.getAs[Int]("significant") == 1)
    val flat = (dose(1, 10, 5) ++ dose(2, 10, 5) ++ dose(3, 10, 5))
      .toDF("w", "y")
    val rf = Stats.cochranArmitage(flat, "w", "y").collect().head
    assert(rf.getAs[Double]("z") == 0.0)
    val all = (dose(1, 5, 5) ++ dose(2, 5, 5)).toDF("w", "y")
    val ra = Stats.cochranArmitage(all, "w", "y").collect().head
    assert(ra.isNullAt(ra.fieldIndex("z")))
    assert(ra.getAs[Int]("significant") == 0)
  }

  test("captureRecapture: Chapman estimate on a planted 100-doc " +
    "universe brackets the truth; bad flag is loud") {
    // A = id < 50, B = even: n1 = n2 = 50, m = 25 →
    // N̂ = 51·51/26 − 1 = 99.038462
    val df = (0L until 100L).map(i =>
      (if (i < 50L) 1 else 0, if (i % 2L == 0L) 1 else 0))
      .toDF("a", "b")
    val r = Stats.captureRecapture(df, "a", "b").collect().head
    assert(r.getAs[Long]("n1") == 50L && r.getAs[Long]("n2") == 50L)
    assert(r.getAs[Long]("m_overlap") == 25L)
    assert(math.abs(r.getAs[Double]("n_estimated") - 99.038462) < 1e-6)
    assert(r.getAs[Double]("ci_low") < 100.0)
    assert(r.getAs[Double]("ci_high") > 100.0)
    val bad = intercept[Exception] {
      Stats.captureRecapture(Seq((2, 1)).toDF("a", "b"), "a", "b")
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("hellingerDrift: identical halves score ~0; disjoint slices " +
    "approach 1; terms stay in [0,1]") {
    val same = ((1 to 50).map(i => ("a", false)) ++
      (1 to 50).map(i => ("a", true)) ++
      (1 to 50).map(i => ("b", false)) ++
      (1 to 50).map(i => ("b", true))).toDF("bucket", "is_cur")
    val rs = Stats.hellingerDrift(same, "is_cur", col("bucket"))
      .collect()
    assert(rs.forall(_.getAs[Double]("hellinger") < 0.01))
    val disj = ((1 to 500).map(i => ("a", false)) ++
      (1 to 500).map(i => ("b", true))).toDF("bucket", "is_cur")
    val rd = Stats.hellingerDrift(disj, "is_cur", col("bucket"))
      .collect()
    val h = rd.head.getAs[Double]("hellinger")
    assert(h > 0.9 && h <= 1.0, s"hellinger $h")
    assert(rd.forall(r => r.getAs[Double]("bc_term") >= 0.0 &&
      r.getAs[Double]("bc_term") <= 1.0))
  }

  test("pairwiseContrasts: equal groups score z = 0 and p = 1; a " +
    "shifted group is Bonferroni-significant; 1-row group is loud") {
    val df = (Seq(1L, 2L, 3L).map(("a", _)) ++
      Seq(1L, 2L, 3L).map(("b", _)) ++
      Seq(11L, 12L, 13L).map(("c", _))).toDF("g", "x")
    val out = Stats.pairwiseContrasts(df, "g", "x")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)
    val ab = out(("a", "b"))
    assert(ab.getAs[Double]("z") == 0.0)
    assert(ab.getAs[Double]("p_raw") == 1.0)
    assert(ab.getAs[Int]("significant") == 0)
    val ac = out(("a", "c"))
    assert(math.abs(ac.getAs[Double]("z") - -12.247449) < 1e-5)
    assert(ac.getAs[Double]("p_bonf") < 0.001)
    assert(ac.getAs[Int]("significant") == 1)
    assert(ac.getAs[Long]("m_comparisons") == 3L)
    val loud = intercept[Exception] {
      Stats.pairwiseContrasts(
        (Seq(1L, 2L).map(("a", _)) :+ (("b", 5L))).toDF("g", "x"),
        "g", "x").collect()
    }
    assert(loud.getMessage.contains("fewer than 2"), loud.getMessage)
  }

  test("zBatteryFdr: erfc p-values feed the q264 step-up — a huge z " +
    "is the sole discovery against a null and a weak z") {
    val battery = Seq(("t_null", 0.0), ("t_weak", 0.5),
      ("t_strong", 6.0)).toDF("k", "z")
    val out = Stats.zBatteryFdr(battery, "k", "z")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("t_null").getAs[Double]("p_value") == 1.0)
    assert(out("t_strong").getAs[Double]("p_value") < 1e-6)
    assert(out("t_strong").getAs[Int]("rejected") == 1)
    assert(out("t_weak").getAs[Int]("rejected") == 0)
    assert(out("t_null").getAs[Int]("rejected") == 0)
    assert(out("t_strong").getAs[Long]("rank") == 1L)
    // adjusted p is monotone in rank
    assert(out("t_strong").getAs[Double]("p_adj") <=
      out("t_weak").getAs[Double]("p_adj"))
  }

  test("riskRatio: hand 2x2 gives RR = 2 and RD = 0.1 with CIs " +
    "bracketing; a zero exposed-case cell NULLs RR but keeps RD; " +
    "bad flag is loud") {
    def cells(a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((1, 1)) ++ Seq.fill(b)((1, 0)) ++
        Seq.fill(c)((0, 1)) ++ Seq.fill(d)((0, 0))
    val df = cells(20, 80, 10, 90).toDF("g", "y")
    val r = Stats.riskRatio(df, "g", "y").collect().head
    assert(r.getAs[Long]("n_exposed") == 100L)
    assert(r.getAs[Double]("risk_exposed") == 0.2)
    assert(r.getAs[Double]("risk_unexposed") == 0.1)
    assert(r.getAs[Double]("risk_ratio") == 2.0)
    assert(r.getAs[Double]("rr_ci_low") < 2.0)
    assert(r.getAs[Double]("rr_ci_high") > 2.0)
    assert(math.abs(r.getAs[Double]("risk_diff") - 0.1) < 1e-9)
    assert(r.getAs[Double]("rd_ci_low") < 0.1)
    assert(r.getAs[Double]("rd_ci_high") > 0.1)
    val zero = cells(0, 100, 10, 90).toDF("g", "y")
    val rz = Stats.riskRatio(zero, "g", "y").collect().head
    assert(rz.isNullAt(rz.fieldIndex("risk_ratio")))
    assert(rz.getAs[Double]("risk_diff") == -0.1)
    val bad = intercept[Exception] {
      Stats.riskRatio(Seq((3, 1)).toDF("g", "y"), "g", "y").collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("cronbachAlpha: perfectly correlated items score 1; a " +
    "constant-total design has NULL alpha; one item is loud") {
    val perfect = (1L to 4L).flatMap(u =>
      Seq((u, "A", u), (u, "B", u))).toDF("u", "i", "x")
    val r = Stats.cronbachAlpha(perfect, "u", "i", "x").collect().head
    assert(r.getAs[Long]("k_items") == 2L)
    assert(r.getAs[Long]("n_units") == 4L)
    assert(r.getAs[Double]("alpha") == 1.0)
    // anti-correlated items: every unit totals 5 → zero total var
    val anti = Seq((1L, "A", 1L), (1L, "B", 4L), (2L, "A", 2L),
      (2L, "B", 3L), (3L, "A", 3L), (3L, "B", 2L), (4L, "A", 4L),
      (4L, "B", 1L)).toDF("u", "i", "x")
    val ra = Stats.cronbachAlpha(anti, "u", "i", "x").collect().head
    assert(ra.isNullAt(ra.fieldIndex("alpha")))
    val loud = intercept[Exception] {
      Stats.cronbachAlpha(Seq((1L, "A", 1L), (2L, "A", 2L))
        .toDF("u", "i", "x"), "u", "i", "x").collect()
    }
    assert(loud.getMessage.contains(">= 2 items"), loud.getMessage)
  }

  test("partialCorrelation: controlling for an independent z leaves " +
    "the xy correlation; a collinear conditioning answers NULL") {
    // y = x + z with x ⊥ z: r_xy = r_yz = .707107, r_xz = 0 →
    // partial ≈ 1 (x explains all of y once z is held)
    val df = Seq((0L, 0L, 0L), (0L, 10L, 10L), (10L, 10L, 0L),
      (10L, 20L, 10L)).toDF("x", "y", "z")
    val r = Stats.partialCorrelation(df, "x", "y", "z").collect().head
    assert(r.getAs[Double]("r_xy") == 0.707107)
    assert(r.getAs[Double]("r_xz") == 0.0)
    assert(math.abs(r.getAs[Double]("r_partial") - 1.0) < 1e-4)
    // x = z exactly: conditioning is collinear → NULL partial
    val coll = Seq((1L, 2L, 1L), (2L, 5L, 2L), (3L, 7L, 3L),
      (4L, 11L, 4L)).toDF("x", "y", "z")
    val rc = Stats.partialCorrelation(coll, "x", "y", "z")
      .collect().head
    assert(rc.getAs[Double]("r_xz") == 1.0)
    assert(rc.isNullAt(rc.fieldIndex("r_partial")))
  }

  test("jonckheereTerpstra: a perfect dose-monotone metric scores a " +
    "positive significant z (hand J); reversing flips the sign; one " +
    "dose answers NULL; the cell guard is loud") {
    // doses 1/2/3 with values {1,1}/{2,2}/{3,3}: J2 = 24, E[J] = 6,
    // Var = 402/72 + 0 + 36/240 = 5.733333 → z = 6/2.394438
    val up = Seq((1L, 1L), (1L, 1L), (2L, 2L), (2L, 2L),
      (3L, 3L), (3L, 3L)).toDF("d", "v")
    val r = Stats.jonckheereTerpstra(up, "d", "v").collect().head
    assert(r.getAs[Long]("j2_doubled") == 24L)
    assert(math.abs(r.getAs[Double]("z") - 2.505813) < 1e-3)
    assert(r.getAs[Int]("significant") == 1)
    val down = Seq((1L, 3L), (1L, 3L), (2L, 2L), (2L, 2L),
      (3L, 1L), (3L, 1L)).toDF("d", "v")
    val rd = Stats.jonckheereTerpstra(down, "d", "v").collect().head
    assert(rd.getAs[Double]("z") < -2.0)
    val one = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("d", "v")
    val ro = Stats.jonckheereTerpstra(one, "d", "v").collect().head
    assert(ro.isNullAt(ro.fieldIndex("z")))
    val wide = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L),
      (3L, 5L), (3L, 6L)).toDF("d", "v")
    val loud = intercept[Exception] {
      Stats.jonckheereTerpstra(wide, "d", "v", maxCells = 4L).collect()
    }
    assert(loud.getMessage.contains("maxCells"), loud.getMessage)
  }

  test("harrellC: a perfectly discriminating score earns c = 1, " +
    "reversed 0, all-tied 0.5; bad event flag is loud") {
    val df = Seq((1L, 1, 10L), (2L, 1, 5L), (3L, 0, 1L))
      .toDF("t", "d", "s")
    val r = Stats.harrellC(df, "t", "d", "s").collect().head
    assert(r.getAs[Long]("n_comparable") == 3L)
    assert(r.getAs[Double]("c_index") == 1.0)
    val rev = Seq((1L, 1, 1L), (2L, 1, 5L), (3L, 0, 10L))
      .toDF("t", "d", "s")
    assert(Stats.harrellC(rev, "t", "d", "s")
      .collect().head.getAs[Double]("c_index") == 0.0)
    val tied = Seq((1L, 1, 7L), (2L, 1, 7L), (3L, 0, 7L))
      .toDF("t", "d", "s")
    assert(Stats.harrellC(tied, "t", "d", "s")
      .collect().head.getAs[Double]("c_index") == 0.5)
    val bad = intercept[Exception] {
      Stats.harrellC(Seq((1L, 2, 1L)).toDF("t", "d", "s"),
        "t", "d", "s").collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("icc: perfect within-unit consistency scores 1, pure noise " +
    "scores the -1/(k-1) floor; an incomplete design is loud") {
    val perfect = Seq((1L, 0L), (1L, 0L), (2L, 10L), (2L, 10L))
      .toDF("u", "x")
    val r = Stats.icc(perfect, "u", "x").collect().head
    assert(r.getAs[Long]("n_units") == 2L)
    assert(r.getAs[Long]("k_per_unit") == 2L)
    assert(r.getAs[Double]("icc") == 1.0)
    val noise = Seq((1L, 0L), (1L, 10L), (2L, 10L), (2L, 0L))
      .toDF("u", "x")
    val rn = Stats.icc(noise, "u", "x").collect().head
    assert(rn.getAs[Double]("msb") == 0.0)
    assert(rn.getAs[Double]("icc") == -1.0)
    val loud = intercept[Exception] {
      Stats.icc(Seq((1L, 1L), (2L, 2L), (2L, 3L)).toDF("u", "x"),
        "u", "x").collect()
    }
    assert(loud.getMessage.contains("complete design"), loud.getMessage)
  }

  test("confusionPanel: hand cells give the full panel incl. MCC; " +
    "a single-class corpus NULLs only the affected metrics; bad " +
    "flag is loud") {
    def rows(tp: Int, fp: Int, fn: Int, tn: Int) =
      Seq.fill(tp)((1, 1)) ++ Seq.fill(fp)((0, 1)) ++
        Seq.fill(fn)((1, 0)) ++ Seq.fill(tn)((0, 0))
    val df = rows(4, 1, 2, 3).toDF("y", "p")
    val r = Stats.confusionPanel(df, "y", "p").collect().head
    assert(r.getAs[Long]("tp") == 4L && r.getAs[Long]("tn") == 3L)
    assert(r.getAs[Double]("accuracy") == 0.7)
    assert(math.abs(r.getAs[Double]("recall") - 0.666667) < 1e-9)
    assert(r.getAs[Double]("specificity") == 0.75)
    assert(r.getAs[Double]("precision") == 0.8)
    assert(math.abs(r.getAs[Double]("balanced_accuracy") - 0.708334)
      < 2e-6)
    assert(math.abs(r.getAs[Double]("f1") - 0.727273) < 1e-6)
    assert(math.abs(r.getAs[Double]("mcc") - 0.408248) < 1e-6)
    // tn = 0 keeps every margin positive: mcc = −2/√40
    val onlyPos = rows(3, 2, 1, 0).toDF("y", "p")
    val rp = Stats.confusionPanel(onlyPos, "y", "p").collect().head
    assert(math.abs(rp.getAs[Double]("mcc") - -0.316228) < 1e-6)
    val allPos = (rows(3, 0, 1, 0)).toDF("y", "p")
    val ra = Stats.confusionPanel(allPos, "y", "p").collect().head
    assert(ra.isNullAt(ra.fieldIndex("specificity")))
    assert(ra.isNullAt(ra.fieldIndex("balanced_accuracy")))
    assert(!ra.isNullAt(ra.fieldIndex("recall")))
    val bad = intercept[Exception] {
      Stats.confusionPanel(Seq((2, 1)).toDF("y", "p"), "y", "p")
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("pageTrend: a perfectly ordered design scores hand z = 2; " +
    "reversing flips the sign; k = 2 answers NULL; incomplete " +
    "blocks are loud") {
    // 2 items × 3 systems, x rising with system: L2 = 56, E2 = 48,
    // Var2 = 16 → z = 2
    val up = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),
      (2L, 1L, 1L), (2L, 2L, 2L), (2L, 3L, 3L))
      .toDF("i", "j", "x")
    val r = Stats.pageTrend(up, "i", "j", "x").collect().head
    assert(r.getAs[Long]("n_items") == 2L)
    assert(r.getAs[Long]("k_systems") == 3L)
    assert(r.getAs[Double]("l2_doubled") == 56.0)
    assert(r.getAs[Double]("z") == 2.0)
    assert(r.getAs[Int]("significant") == 1)
    val down = Seq((1L, 1L, 30L), (1L, 2L, 20L), (1L, 3L, 10L),
      (2L, 1L, 3L), (2L, 2L, 2L), (2L, 3L, 1L)).toDF("i", "j", "x")
    assert(Stats.pageTrend(down, "i", "j", "x")
      .collect().head.getAs[Double]("z") == -2.0)
    val two = Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 3L),
      (2L, 2L, 4L)).toDF("i", "j", "x")
    val rt = Stats.pageTrend(two, "i", "j", "x").collect().head
    assert(rt.isNullAt(rt.fieldIndex("z")))
    val loud = intercept[Exception] {
      Stats.pageTrend(Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 3L))
        .toDF("i", "j", "x"), "i", "j", "x").collect()
    }
    assert(loud.getMessage.contains("complete"), loud.getMessage)
  }

  test("ordinalAssociation: hand 2x2 cells give gamma 0.6 and " +
    "Somers' D 1/3; the cell guard is loud") {
    val df = (Seq.fill(2)((1L, 1L)) ++ Seq((1L, 2L)) ++
      Seq((2L, 1L)) ++ Seq.fill(2)((2L, 2L))).toDF("x", "y")
    val r = Stats.ordinalAssociation(df, "x", "y").collect().head
    assert(r.getAs[Long]("concordant") == 4L)
    assert(r.getAs[Long]("discordant") == 1L)
    assert(r.getAs[Long]("ties_y_only") == 4L)
    assert(r.getAs[Double]("gamma") == 0.6)
    assert(math.abs(r.getAs[Double]("somers_d") - 0.333333) < 1e-9)
    val wide = (1L to 6L).map(i => (i, i)).toDF("x", "y")
    val loud = intercept[Exception] {
      Stats.ordinalAssociation(wide, "x", "y", maxCells = 4L)
        .collect()
    }
    assert(loud.getMessage.contains("maxCells"), loud.getMessage)
  }

  test("energyDistance: hand interleaved arms; identical samples " +
    "score exactly 0; an empty arm is loud") {
    // A {0,2}, B {1,3}: E|X−Y| = 1.5, both within-means 1 → D² = 1
    val df = Seq((0, 0L), (0, 2L), (1, 1L), (1, 3L)).toDF("a", "v")
    val r = Stats.energyDistance(df, "a", "v").collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("e_cross") == 1.5)
    assert(r.getAs[Double]("e_within_a") == 1.0)
    assert(r.getAs[Double]("e_within_b") == 1.0)
    assert(r.getAs[Double]("energy_dist") == 1.0)
    val same = Seq((0, 0L), (0, 1L), (1, 0L), (1, 1L)).toDF("a", "v")
    assert(Stats.energyDistance(same, "a", "v")
      .collect().head.getAs[Double]("energy_dist") == 0.0)
    val loud = intercept[Exception] {
      Stats.energyDistance(Seq((0, 1L), (0, 2L)).toDF("a", "v"),
        "a", "v").collect()
    }
    assert(loud.getMessage.contains("non-empty"), loud.getMessage)
  }

  test("poissonRegression: recovers a planted exponential growth " +
    "rate; constant series fits slope ~0; zero x-variance answers " +
    "NULL; negative counts are loud") {
    val grown = (0 to 9).map(x =>
      ("k", x.toLong, math.floor(10.0 * math.exp(0.2 * x)).toLong))
      .toDF("k", "x", "y")
    val r = Stats.poissonRegression(grown, "k", "x", "y")
      .collect().head
    assert(r.getAs[Double]("slope") > 0.15 &&
      r.getAs[Double]("slope") < 0.25, s"slope ${r.getAs[Double]("slope")}")
    assert(r.getAs[Double]("rate_ratio") > 1.15)
    val const = (0 to 9).map(x => ("c", x.toLong, 7L))
      .toDF("k", "x", "y")
    val rc = Stats.poissonRegression(const, "k", "x", "y")
      .collect().head
    assert(math.abs(rc.getAs[Double]("slope")) < 0.01)
    val flat = (1 to 5).map(_ => ("f", 3L, 9L)).toDF("k", "x", "y")
    val rf = Stats.poissonRegression(flat, "k", "x", "y")
      .collect().head
    assert(rf.isNullAt(rf.fieldIndex("slope")))
    val loud = intercept[Exception] {
      Stats.poissonRegression(Seq(("b", 1L, -2L)).toDF("k", "x", "y"),
        "k", "x", "y").collect()
    }
    assert(loud.getMessage.contains("negative count"), loud.getMessage)
  }

  test("postStratifiedMean: hand weighted mean and SE; unknown and " +
    "unsampled strata are loud") {
    val df = Seq(("A", 1L), ("A", 3L), ("B", 10L), ("B", 20L))
      .toDF("h", "x")
    val r = Stats.postStratifiedMean(df, "h", "x",
      Map("A" -> 0.75, "B" -> 0.25)).collect().head
    assert(r.getAs[Long]("k_strata") == 2L)
    assert(r.getAs[Double]("ps_mean") == 5.25)
    assert(math.abs(r.getAs[Double]("ps_se") - 1.457738) < 1e-6)
    val unknown = intercept[Exception] {
      Stats.postStratifiedMean(df, "h", "x", Map("A" -> 1.0))
        .collect()
    }
    assert(unknown.getMessage.contains("not in the population map"),
      unknown.getMessage)
    val unsampled = intercept[Exception] {
      Stats.postStratifiedMean(df.filter(col("h") === "A"), "h", "x",
        Map("A" -> 0.75, "B" -> 0.25)).collect()
    }
    assert(unsampled.getMessage.contains("no sample rows"),
      unsampled.getMessage)
  }

  test("sampleSizePlanner: bigger effects need fewer samples; the " +
    "hand 25%-baseline 20%-MDE case lands near 1251; bad flags and " +
    "zero MDE are loud") {
    val df = (Seq.fill(50)(1) ++ Seq.fill(150)(0)).toDF("y")
    val out = Stats.sampleSizePlanner(df, "y", Seq(0.1, 0.2, 0.4))
      .collect().map(r => r.getAs[Double]("relative_mde") -> r).toMap
    assert(out(0.2).getAs[Double]("p0") == 0.25)
    assert(out(0.2).getAs[Double]("p1") == 0.3)
    val n02 = out(0.2).getAs[Long]("n_per_arm")
    assert(n02 > 1200L && n02 < 1300L, s"n $n02")
    assert(out(0.1).getAs[Long]("n_per_arm") >
      out(0.2).getAs[Long]("n_per_arm"))
    assert(out(0.2).getAs[Long]("n_per_arm") >
      out(0.4).getAs[Long]("n_per_arm"))
    val zero = intercept[IllegalArgumentException] {
      Stats.sampleSizePlanner(df, "y", Seq(0.0))
    }
    assert(zero.getMessage.contains("infinite"), zero.getMessage)
    val bad = intercept[Exception] {
      Stats.sampleSizePlanner(Seq(2).toDF("y"), "y", Seq(0.1))
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("kuiperTest: identical mixes score V = 0 with p = 1; a " +
    "disjoint shift scores V = 1; an empty arm is loud") {
    val same = (0 to 9).flatMap(v => Seq((0, v.toLong), (1, v.toLong)))
      .toDF("a", "v")
    val rs = Stats.kuiperTest(same, "a", "v").collect().head
    assert(rs.getAs[Double]("v_stat") == 0.0)
    assert(rs.getAs[Double]("p_value") == 1.0)
    val shift = Seq((0, 0L), (0, 1L), (1, 5L), (1, 5L)).toDF("a", "v")
    val r = Stats.kuiperTest(shift, "a", "v").collect().head
    assert(r.getAs[Double]("v_stat") == 1.0)
    assert(r.getAs[Long]("d_plus_numerator") == 4L)
    assert(r.getAs[Long]("d_minus_numerator") == 0L)
    assert(r.getAs[Double]("p_value") < 0.5)
    val loud = intercept[Exception] {
      Stats.kuiperTest(Seq((0, 1L)).toDF("a", "v"), "a", "v")
        .collect()
    }
    assert(loud.getMessage.contains("non-empty"), loud.getMessage)
  }

  test("wilcoxonSignedRank: hand doubled rank sum on all-positive " +
    "diffs; the mirrored pairs flip z; zeros drop and all-zero " +
    "answers NULL") {
    // diffs {1,2,3}: 2W+ = 12, E = 6, Var = 14 → z = 6/√14
    val pos = Seq((2L, 1L), (4L, 2L), (6L, 3L)).toDF("x", "y")
    val r = Stats.wilcoxonSignedRank(pos, "x", "y").collect().head
    assert(r.getAs[Long]("n_nonzero") == 3L)
    assert(r.getAs[Long]("w2_doubled") == 12L)
    assert(math.abs(r.getAs[Double]("z") - 1.603567) < 1e-6)
    assert(r.getAs[Int]("significant") == 0)
    val neg = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    assert(math.abs(Stats.wilcoxonSignedRank(neg, "x", "y")
      .collect().head.getAs[Double]("z") - -1.603567) < 1e-6)
    val withZero = Seq((2L, 1L), (4L, 2L), (6L, 3L), (5L, 5L))
      .toDF("x", "y")
    val rz = Stats.wilcoxonSignedRank(withZero, "x", "y")
      .collect().head
    assert(rz.getAs[Long]("n_zero") == 1L)
    assert(rz.getAs[Long]("n_nonzero") == 3L)
    val allZero = Seq((1L, 1L), (2L, 2L)).toDF("x", "y")
    val ra = Stats.wilcoxonSignedRank(allZero, "x", "y")
      .collect().head
    assert(ra.isNullAt(ra.fieldIndex("z")))
  }

  test("hodgesLehmann: hand Walsh medians incl. tied cells; the " +
    "cell guard is loud") {
    val df = Seq(1L, 2L, 10L).toDF("v")
    val r = Stats.hodgesLehmann(df, "v").collect().head
    assert(r.getAs[Long]("n_walsh_pairs") == 6L)
    assert(r.getAs[Double]("pseudo_median") == 2.0)
    // {1,1,3}: Walsh multiset {1,1,1,2,2,3} → LOWER median (the
    // documented convention) is 1
    val tied = Seq(1L, 1L, 3L).toDF("v")
    val rt = Stats.hodgesLehmann(tied, "v").collect().head
    assert(rt.getAs[Long]("n_walsh_pairs") == 6L)
    assert(rt.getAs[Double]("pseudo_median") == 1.0)
    val loud = intercept[Exception] {
      Stats.hodgesLehmann((1L to 10L).toDF("v"), "v", maxCells = 4L)
        .collect()
    }
    assert(loud.getMessage.contains("maxCells"), loud.getMessage)
  }

  test("signTest: continuity-corrected z and erfc p; a lopsided " +
    "split is significant; all-tied answers NULL") {
    val mild = (Seq.fill(8)((2L, 1L)) ++ Seq.fill(2)((1L, 2L)) :+
      ((5L, 5L))).toDF("x", "y")
    val r = Stats.signTest(mild, "x", "y").collect().head
    assert(r.getAs[Long]("n_positive") == 8L)
    assert(r.getAs[Long]("n_zero") == 1L)
    assert(math.abs(r.getAs[Double]("z") - 1.581139) < 1e-6)
    assert(r.getAs[Int]("significant") == 0)
    val strong = (Seq.fill(15)((2L, 1L)) :+ ((1L, 2L))).toDF("x", "y")
    val rs = Stats.signTest(strong, "x", "y").collect().head
    assert(rs.getAs[Double]("z") == 3.25)
    assert(rs.getAs[Int]("significant") == 1)
    val tied = Seq((1L, 1L), (2L, 2L)).toDF("x", "y")
    val rt = Stats.signTest(tied, "x", "y").collect().head
    assert(rt.isNullAt(rt.fieldIndex("z")))
  }

  test("splitHalfReliability: identical-up-to-scale halves score " +
    "r = 1 and SB = 1; perfectly opposed halves answer NULL; bad " +
    "flag is loud") {
    val good = Seq((1L, 0, 1L), (1L, 1, 2L), (2L, 0, 2L),
      (2L, 1, 4L), (3L, 0, 3L), (3L, 1, 6L)).toDF("u", "h", "x")
    val r = Stats.splitHalfReliability(good, "u", "h", "x")
      .collect().head
    assert(r.getAs[Long]("n_units") == 3L)
    assert(r.getAs[Double]("half_r") == 1.0)
    assert(r.getAs[Double]("spearman_brown") == 1.0)
    val anti = Seq((1L, 0, 1L), (1L, 1, 3L), (2L, 0, 2L),
      (2L, 1, 2L), (3L, 0, 3L), (3L, 1, 1L)).toDF("u", "h", "x")
    val ra = Stats.splitHalfReliability(anti, "u", "h", "x")
      .collect().head
    assert(ra.getAs[Double]("half_r") == -1.0)
    assert(ra.isNullAt(ra.fieldIndex("spearman_brown")))
    val bad = intercept[Exception] {
      Stats.splitHalfReliability(Seq((1L, 2, 1L)).toDF("u", "h", "x"),
        "u", "h", "x").collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("qqDriftTable: a planted +10 shift reads +10 at every decile; " +
    "a slice missing a key lines up as NULLs") {
    val rows = (1 to 10).flatMap(v => Seq(
      ("k", v.toLong * 2, v.toLong, true),
      ("k", v.toLong * 2 + 1, v.toLong + 10L, false))) ++
      (1 to 10).map(v => ("only_ref", 100L + v, v.toLong, true))
    val df = rows.toDF("k", "id", "v", "is_ref")
    val out = Stats.qqDriftTable(df, "k", "id", "v", "is_ref")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(out.size == 18)
    (1 to 9).foreach { q =>
      val r = out(("k", q))
      assert(r.getAs[Long]("ref_q") == q.toLong)
      assert(r.getAs[Long]("cur_q") == q.toLong + 10L)
      assert(r.getAs[Long]("shift") == 10L)
    }
    val nr = out(("only_ref", 5))
    assert(nr.getAs[Long]("ref_q") == 5L)
    assert(nr.isNullAt(nr.fieldIndex("cur_q")))
    assert(nr.isNullAt(nr.fieldIndex("shift")))
  }

  test("corrMatrix: planted perfect correlations with signs; a " +
    "constant column answers NULL for its pairs; dup columns are " +
    "rejected") {
    val df = (1L to 8L).map(x => (x, 2L * x, 10L - x, 7L))
      .toDF("a", "b", "c", "k")
    val out = Stats.corrMatrix(df, Seq("a", "b", "c", "k"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 6)
    assert(out(("a", "b")).getAs[Double]("r") == 1.0)
    assert(out(("a", "c")).getAs[Double]("r") == -1.0)
    assert(out(("b", "c")).getAs[Double]("r") == -1.0)
    assert(out(("a", "k")).isNullAt(
      out(("a", "k")).fieldIndex("r")))
    val e = intercept[IllegalArgumentException] {
      Stats.corrMatrix(df, Seq("a", "a"))
    }
    assert(e.getMessage.contains("distinct"), e.getMessage)
  }

  test("holmBonferroni: step-down walk rejects the prefix before the " +
    "first failure; adjusted p is the running max") {
    // m=4, α=.05: thresholds .0125/.016667/.025/.05 — ranks 1-3 pass,
    // rank 4 (p=.5) fails → k*=3; p_adj = 4·.001, max(...,3·.01),
    // max(...,2·.02), max(...,min(1,.5)) = .004/.03/.04/.5
    val df = Seq(("a", 0.001), ("b", 0.01), ("c", 0.02), ("d", 0.5))
      .toDF("k", "p")
    val out = Stats.holmBonferroni(df, "k", "p", alpha = 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("p_adj") == 0.004)
    assert(out("b").getAs[Double]("p_adj") == 0.03)
    assert(out("c").getAs[Double]("p_adj") == 0.04)
    assert(out("d").getAs[Double]("p_adj") == 0.5)
    assert(Seq("a", "b", "c").forall(out(_).getAs[Int]("rejected") == 1))
    assert(out("d").getAs[Int]("rejected") == 0)
    intercept[IllegalArgumentException] {
      Stats.holmBonferroni(df, "k", "p", alpha = 1.5)
    }
    // NULL p must raise loudly (Spark ranks NULLs first, DuckDB
    // last — a silent cross-engine rank shift otherwise), for every
    // member of the multiple-testing family
    val withNull = Seq(("a", Some(0.01)), ("b", None))
      .toDF("k", "p")
    for ((name, f) <- Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("holmBonferroni", d => Stats.holmBonferroni(d, "k", "p", 0.05)),
      ("bhFdr", d => Stats.bhFdr(d, "k", "p", 0.1)),
      ("byFdr", d => Stats.byFdr(d, "k", "p", 0.1)))) {
      val e = intercept[Exception] { f(withNull).collect() }
      assert(e.getMessage.contains("NULL/NaN p_value"),
        s"$name: ${e.getMessage}")
    }
  }

  test("cliffsDelta: hand pair counts via the cell frame; empty arm " +
    "and non-0/1 arms are loud") {
    // arm0 {1,2,3} vs arm1 {2,3,4}: 9 pairs — 6 wins, 1 loss, 2 ties
    // → δ = 5/9, CL = (6 + 0.5·2)/9 = 7/9, magnitude large
    val df = Seq((0L, 1L), (0L, 2L), (0L, 3L),
      (1L, 2L), (1L, 3L), (1L, 4L)).toDF("arm", "x")
    val r = Stats.cliffsDelta(df, "arm", "x").collect().head
    assert(r.getAs[Long]("n0") == 3L && r.getAs[Long]("n1") == 3L)
    assert(r.getAs[Double]("delta") == 0.555556)
    assert(r.getAs[Double]("cl_effect") == 0.777778)
    assert(r.getAs[String]("magnitude") == "large")
    val loud = intercept[Exception] {
      Stats.cliffsDelta(df.filter(col("arm") === 1L), "arm", "x")
        .collect()
    }
    assert(loud.getMessage.contains("empty"), loud.getMessage)
    val bad = intercept[Exception] {
      Stats.cliffsDelta(Seq((2L, 1L)).toDF("arm", "x"), "arm", "x")
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("ivEstimator: hand cleared moments give beta/pi/F; a dead " +
    "instrument answers NULLs; n<3 is loud") {
    // (z,x,y) rows → Szz=4, Sxx=20, Szx=8, Szy=12:
    // β=1.5, π=2.0, F=2·64/(80−64)=8 → weak (F<10)
    val df = Seq((0L, 1L, 2L), (0L, 2L, 3L), (1L, 3L, 5L), (1L, 4L, 6L))
      .toDF("z", "x", "y")
    val r = Stats.ivEstimator(df, "z", "x", "y").collect().head
    assert(r.getAs[Double]("beta_iv") == 1.5)
    assert(r.getAs[Double]("pi_first_stage") == 2.0)
    assert(r.getAs[Double]("f_first_stage") == 8.0)
    assert(r.getAs[Int]("weak_instrument") == 1)
    val dead = Seq((1L, 1L, 2L), (1L, 2L, 3L), (1L, 3L, 5L))
      .toDF("z", "x", "y")
    val rd = Stats.ivEstimator(dead, "z", "x", "y").collect().head
    assert(rd.isNullAt(rd.fieldIndex("beta_iv")))
    assert(rd.isNullAt(rd.fieldIndex("f_first_stage")))
    assert(rd.getAs[Int]("weak_instrument") == 1)
    val loud = intercept[Exception] {
      Stats.ivEstimator(df.limit(2), "z", "x", "y").collect()
    }
    assert(loud.getMessage.contains("< 3"), loud.getMessage)
  }

  test("breuschPagan: hand two-stage chain; a perfect line is " +
    "homoskedastic by construction; constant x is loud") {
    // x=[1..4], y=[0,0,0,8000]: b=2400, a=−4000, e=[1600,−800,−3200,
    // 2400], u=e²/10⁶=[2.56,.64,10.24,5.76] → R²=38.4²/(20·211.3536),
    // LM=4·R²=1.395348
    val df = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 8000L))
      .toDF("x", "y")
    val r = Stats.breuschPagan(df, "x", "y").collect().head
    assert(r.getAs[Double]("lm_stat") == 1.395348)
    val p = r.getAs[Double]("p_value")
    assert(p > 0.2 && p < 0.3, p.toString)
    assert(r.getAs[Int]("heteroskedastic") == 0)
    val line = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    val rl = Stats.breuschPagan(line, "x", "y").collect().head
    assert(rl.getAs[Double]("lm_stat") == 0.0)
    assert(rl.getAs[Double]("p_value") == 1.0)
    val loud = intercept[Exception] {
      Stats.breuschPagan(Seq((2L, 1L), (2L, 5L), (2L, 9L))
        .toDF("x", "y"), "x", "y").collect()
    }
    assert(loud.getMessage.contains("constant regressor"), loud.getMessage)
  }

  test("chowTest: hand SSEs across a planted intercept jump; perfect " +
    "segment fits answer NULL F; short/degenerate segments are loud") {
    // g0 (1,1),(2,2),(3,4) and g1 (4,14),(5,15),(6,17): SSE₀ = SSE₁ =
    // 3/18; pooled SSE = 15816/630 — the jump dwarfs the within noise
    val df = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 4L),
      (1L, 4L, 14L), (1L, 5L, 15L), (1L, 6L, 17L))
      .toDF("g", "x", "y")
    val r = Stats.chowTest(df, "g", "x", "y").collect().head
    assert(r.getAs[Double]("sse0") == 0.166667)
    assert(r.getAs[Double]("sse1") == 0.166667)
    assert(r.getAs[Double]("sse_pooled") == 25.104762)
    val expF = BigDecimal(((25.104762 - 0.333334) / 2.0) /
      (0.333334 / 2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(r.getAs[Double]("f_stat") == expF)
    assert(r.getAs[Long]("df1") == 2L && r.getAs[Long]("df2") == 2L)
    val perfect = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L),
      (1L, 4L, 14L), (1L, 5L, 15L), (1L, 6L, 16L))
      .toDF("g", "x", "y")
    val rp = Stats.chowTest(perfect, "g", "x", "y").collect().head
    assert(rp.isNullAt(rp.fieldIndex("f_stat")))
    val loud = intercept[Exception] {
      Stats.chowTest(df.filter(col("g") === 0L ||
        col("x") === 4L), "g", "x", "y").collect()
    }
    assert(loud.getMessage.contains("< 3"), loud.getMessage)
  }

  test("hhiConcentration: hand shares; single-firm market has no " +
    "normalized HHI; negative mass is loud") {
    // market m: masses {6,3,1} → HHI = 10⁴·46/100 = 4600,
    // HHI* = (3·46−100)/(100·2) = 0.19, CR2 = 9/10
    val df = Seq(("m", "a", 6L), ("m", "b", 3L), ("m", "c", 1L),
      ("s", "d", 5L)).toDF("mk", "firm", "w")
    val out = Stats.hhiConcentration(df, "mk", "firm", "w", topK = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("m").getAs[Double]("hhi") == 4600.0)
    assert(out("m").getAs[Double]("hhi_normalized") == 0.19)
    assert(out("m").getAs[Double]("cr2") == 0.9)
    assert(out("s").getAs[Double]("hhi") == 10000.0)
    assert(out("s").isNullAt(out("s").fieldIndex("hhi_normalized")))
    assert(out("s").getAs[Double]("cr2") == 1.0)
    val loud = intercept[Exception] {
      Stats.hhiConcentration(Seq(("m", "a", -1L)).toDF("mk", "f", "w"),
        "mk", "f", "w").collect()
    }
    assert(loud.getMessage.contains("negative"), loud.getMessage)
  }

  test("theilDecomposition: equal masses give zero within-Theil; " +
    "planted two-group split puts the inequality between groups") {
    // g1 {2,2}, g2 {8}: μ=4 — within terms are 0 (equal masses inside
    // each group), between terms carry sign ln(μ_g/μ)
    val df = Seq(("g1", 2L), ("g1", 2L), ("g2", 8L)).toDF("g", "x")
    val out = Stats.theilDecomposition(df, "g", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g1").getAs[Double]("theil_within") == 0.0)
    assert(out("g2").getAs[Double]("theil_within") == 0.0)
    assert(out("g1").getAs[Double]("pop_share") == 0.666667)
    assert(out("g1").getAs[Double]("income_share") == 0.333333)
    assert(out("g1").getAs[Double]("between_term") == -0.231049)
    assert(out("g2").getAs[Double]("between_term") == 0.462098)
    assert(out("g1").getAs[Double]("within_contrib") == 0.0)
    val loud = intercept[Exception] {
      Stats.theilDecomposition(Seq(("g", 0L)).toDF("g", "x"), "g", "x")
        .collect()
    }
    assert(loud.getMessage.contains("not positive"), loud.getMessage)
  }

  test("atkinsonIndices: hand geometric/harmonic means on {1,4}; " +
    "non-positive mass is loud") {
    // μ=2.5, geomean=2 (d6 of exp(½ln4)), harmonic=1.6 →
    // A₁ = 1−2/2.5 = .2, A₂ = 1−1.6/2.5 = .36
    val df = Seq(("g", 1L), ("g", 4L)).toDF("g", "x")
    val r = Stats.atkinsonIndices(df, "g", "x").collect().head
    assert(r.getAs[Double]("mean") == 2.5)
    assert(r.getAs[Double]("a1") == 0.2)
    assert(r.getAs[Double]("a2") == 0.36)
    val loud = intercept[Exception] {
      Stats.atkinsonIndices(Seq(("g", -2L)).toDF("g", "x"), "g", "x")
        .collect()
    }
    assert(loud.getMessage.contains("not positive"), loud.getMessage)
  }

  test("palmaShares: hand rank blocks on 1..10; negative mass is loud") {
    // n=10, x=1..10: bottom40 = {1..4} = 10, top10 = {10} = 10,
    // bottom20 = {1,2} = 3, top20 = {9,10} = 19, total 55
    val df = (1L to 10L).map(i => ("g", i, i)).toDF("g", "id", "x")
    val r = Stats.palmaShares(df, "g", "id", "x").collect().head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("total") == 55L)
    assert(r.getAs[Double]("bottom40_share") == 0.181818)
    assert(r.getAs[Double]("top10_share") == 0.181818)
    assert(r.getAs[Double]("palma_ratio") == 1.0)
    assert(r.getAs[Double]("quintile_ratio") == 6.333333)
    val loud = intercept[Exception] {
      Stats.palmaShares(Seq(("g", 1L, -5L)).toDF("g", "id", "x"),
        "g", "id", "x").collect()
    }
    assert(loud.getMessage.contains("negative"), loud.getMessage)
  }

  test("processCapability: hand Cp/Cpk on a centered spec band; a " +
    "constant key answers NULLs; degenerate inputs are loud") {
    // {8,10,12} in (4,16): mean 10, s = 2 → Cp = 12/12 = 1,
    // Cpk = min(6,6)/6 = 1
    val df = Seq(("a", 8L), ("a", 10L), ("a", 12L),
      ("c", 5L), ("c", 5L)).toDF("k", "x")
    val out = Stats.processCapability(df, "k", "x", lsl = 4L, usl = 16L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("mean") == 10.0)
    assert(out("a").getAs[Double]("stddev") == 2.0)
    assert(out("a").getAs[Double]("cp") == 1.0)
    assert(out("a").getAs[Double]("cpk") == 1.0)
    assert(out("a").getAs[Int]("capable") == 0)
    assert(out("c").isNullAt(out("c").fieldIndex("cp")))
    intercept[IllegalArgumentException] {
      Stats.processCapability(df, "k", "x", lsl = 10L, usl = 10L)
    }
    val loud = intercept[Exception] {
      Stats.processCapability(Seq(("z", 1L)).toDF("k", "x"),
        "k", "x", 0L, 10L).collect()
    }
    assert(loud.getMessage.contains("< 2"), loud.getMessage)
  }

  test("ratioMetricCI: a perfectly proportional panel has zero " +
    "variance; zero denominator and single unit are loud") {
    // units (2,1),(4,2),(6,3): R = 2 and the delta-method variance
    // cancels exactly → degenerate CI [2, 2]
    val df = Seq((2L, 1L), (4L, 2L), (6L, 3L)).toDF("x", "y")
    val r = Stats.ratioMetricCI(df, "x", "y").collect().head
    assert(r.getAs[Double]("ratio") == 2.0)
    assert(r.getAs[Double]("se") == 0.0)
    assert(r.getAs[Double]("ci_low") == 2.0)
    assert(r.getAs[Double]("ci_high") == 2.0)
    val zero = intercept[Exception] {
      Stats.ratioMetricCI(Seq((1L, 0L), (2L, 0L)).toDF("x", "y"),
        "x", "y").collect()
    }
    assert(zero.getMessage.contains("denominator"), zero.getMessage)
    val one = intercept[Exception] {
      Stats.ratioMetricCI(Seq((1L, 1L)).toDF("x", "y"), "x", "y")
        .collect()
    }
    assert(one.getMessage.contains("< 2"), one.getMessage)
  }

  test("aalenJohansen: hand CIFs ride the all-cause KM; causes " +
    "partition the risk; negative cause is loud") {
    // t=1: causes {1,2} of 5 at risk → inc .2 each, S(1)=.6;
    // t=2: cause 1 of 3 at risk → inc .6/3 = .2, CIF₁ = .4
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 0L), (3L, 0L))
      .toDF("t", "c")
    val out = Stats.aalenJohansen(df, "t", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.size == 3)
    assert(out((1L, 1L)).getAs[Double]("cif") == 0.2)
    assert(out((1L, 2L)).getAs[Double]("cif") == 0.2)
    assert(out((2L, 1L)).getAs[Double]("surv_prev") == 0.6)
    assert(out((2L, 1L)).getAs[Double]("cif") == 0.4)
    assert(out((2L, 1L)).getAs[Long]("n_risk") == 3L)
    val loud = intercept[Exception] {
      Stats.aalenJohansen(Seq((1L, -1L)).toDF("t", "c"), "t", "c")
        .collect()
    }
    assert(loud.getMessage.contains("negative"), loud.getMessage)
  }

  test("lifeTable: doubled half-interval adjustment by hand; " +
    "start-survival chains the interval products") {
    // width 2, durations [0,1,2,3,5], events [1,1,0,1,0]:
    // i0: n'2=10, q=.4, h=.25, S=1; i1: n'2=5, q=.4, h=.25, S=.6;
    // i2: n'2=1, q=0, h=0, S = p₀·p₁ = .6·(3/5) = .36
    val df = Seq((0L, 1L), (1L, 1L), (2L, 0L), (3L, 1L), (5L, 0L))
      .toDF("t", "e")
    val out = Stats.lifeTable(df, "t", "e", width = 2L).collect()
      .map(r => r.getAs[Long]("interval") -> r).toMap
    assert(out.size == 3)
    assert(out(0L).getAs[Long]("n_enter") == 5L)
    assert(out(0L).getAs[Double]("q_interval") == 0.4)
    assert(out(0L).getAs[Double]("hazard_rate") == 0.25)
    assert(out(0L).getAs[Double]("surv_start") == 1.0)
    assert(out(1L).getAs[Double]("q_interval") == 0.4)
    assert(out(1L).getAs[Double]("surv_start") == 0.6)
    assert(out(2L).getAs[Double]("q_interval") == 0.0)
    assert(out(2L).getAs[Double]("hazard_rate") == 0.0)
    assert(out(2L).getAs[Double]("surv_start") == 0.36)
    intercept[IllegalArgumentException] {
      Stats.lifeTable(df, "t", "e", width = 0L)
    }
    // negative durations are loud: integer `div` (the oracle's `//`)
    // and trunc diverge below zero, so the operator refuses the
    // regime instead of silently disagreeing with the oracle
    val neg = intercept[Exception] {
      Stats.lifeTable(Seq((-1L, 1L), (2L, 0L)).toDF("t", "e"),
        "t", "e", width = 2L).collect()
    }
    assert(neg.getMessage.contains("negative duration"), neg.getMessage)
    // NULL durations keep flowing to the NULL interval bucket — the
    // pre-guard cross-engine behavior (ADVICE r16: the negative guard
    // must not swallow NULLs into a NULL-message raise)
    val withNull = Seq((java.lang.Long.valueOf(0L), 1L),
      (null.asInstanceOf[java.lang.Long], 0L),
      (java.lang.Long.valueOf(2L), 0L)).toDF("t", "e")
    val nullOut = Stats.lifeTable(withNull, "t", "e", width = 2L)
      .collect()
    assert(nullOut.exists(r => r.isNullAt(r.fieldIndex("interval"))),
      nullOut.mkString("; "))
  }

  test("hoeffdingsD: perfect monotone dependence reads exactly 1; " +
    "out-of-range n is loud") {
    // x=y=[1..5]: D1=20, D2=184, D3=50 → D = 30·4/120 = 1
    val df = (1L to 5L).map(i => (i, i)).toDF("x", "y")
    val r = Stats.hoeffdingsD(df, "x", "y").collect().head
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("hoeffding_d") == 1.0)
    val small = intercept[Exception] {
      Stats.hoeffdingsD(df.limit(4), "x", "y").collect()
    }
    assert(small.getMessage.contains("outside"), small.getMessage)
    val big = intercept[Exception] {
      Stats.hoeffdingsD((1L to 6L).map(i => (i, i)).toDF("x", "y"),
        "x", "y", maxRows = 5L).collect()
    }
    assert(big.getMessage.contains("outside"), big.getMessage)
  }

  test("welchAnova: hand equal-weight two-group case; constant " +
    "groups and tiny groups are loud") {
    // {1,2,3} vs {5,6,7}: w = 3 each, m̄w = 4, num = 24, Λ = .25 →
    // lam = .25, W* = 24 (the k=2 denominator term vanishes), df₂ = 4
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 5L), ("b", 6L), ("b", 7L)).toDF("g", "x")
    val r = Stats.welchAnova(df, "g", "x").collect().head
    assert(r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("w_stat") == 24.0)
    assert(r.getAs[Long]("df1") == 1L)
    assert(r.getAs[Double]("df2") == 4.0)
    val const = intercept[Exception] {
      Stats.welchAnova(df.union(Seq(("c", 9L), ("c", 9L))
        .toDF("g", "x")), "g", "x").collect()
    }
    assert(const.getMessage.contains("zero variance"), const.getMessage)
    val tiny = intercept[Exception] {
      Stats.welchAnova(df.union(Seq(("d", 1L)).toDF("g", "x")),
        "g", "x").collect()
    }
    assert(tiny.getMessage.contains("< 2"), tiny.getMessage)
  }

  test("moodMedianTest: hand 2x2 straddle of the exact pooled " +
    "lower median") {
    // {1,2,3} vs {4,5,6}: lower median = 3; above: 0 vs 3 → χ² = 6,
    // df 1 → significant at the 3.841 critical value
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "x")
    val out = Stats.moodMedianTest(df, "g", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Long]("pooled_median") == 3L)
    assert(out("a").getAs[Long]("n_above") == 0L)
    assert(out("b").getAs[Long]("n_above") == 3L)
    assert(out("a").getAs[Double]("chi2") == 6.0)
    assert(out("a").getAs[Int]("significant") == 1)
  }

  test("ansariBradley: inward scores by hand — the spread arm " +
    "collects the extremes; non-0/1 arms are loud") {
    // arm0 {1,10} (tails) vs arm1 {5,6} (center): s2 = [2,4,4,2],
    // AB(arm1) = 4, E = 3, Var(doubled) = 4/3 → z = √3
    val df = Seq((0L, 1L), (0L, 10L), (1L, 5L), (1L, 6L))
      .toDF("arm", "x")
    val r = Stats.ansariBradley(df, "arm", "x").collect().head
    assert(r.getAs[Double]("ab_stat") == 4.0)
    assert(r.getAs[Double]("z") == 1.732051)
    assert(r.getAs[Int]("significant") == 0)
    val bad = intercept[Exception] {
      Stats.ansariBradley(Seq((2L, 1L)).toDF("arm", "x"), "arm", "x")
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
  }

  test("linConcordance: identity agrees at 1; a constant shift " +
    "keeps r = 1 but collapses CCC") {
    val same = (1L to 3L).map(i => (i, i)).toDF("x", "y")
    val rs = Stats.linConcordance(same, "x", "y").collect().head
    assert(rs.getAs[Double]("ccc") == 1.0)
    assert(rs.getAs[Double]("pearson_r") == 1.0)
    assert(rs.getAs[Double]("bias_correction") == 1.0)
    // y = x + 10: Sxy = Sxx = 6, gap = 900 → CCC = 12/912
    val shift = (1L to 3L).map(i => (i, i + 10L)).toDF("x", "y")
    val rh = Stats.linConcordance(shift, "x", "y").collect().head
    assert(rh.getAs[Double]("pearson_r") == 1.0)
    assert(rh.getAs[Double]("ccc") == 0.013158)
    val loud = intercept[Exception] {
      Stats.linConcordance(Seq((1L, 1L)).toDF("x", "y"), "x", "y")
        .collect()
    }
    assert(loud.getMessage.contains("< 2"), loud.getMessage)
  }

  test("blandAltman: hand bias/limits on symmetric differences; " +
    "single pair is loud") {
    // d = [2,−2,0]: bias 0, sd 2 → limits ∓3.919928, nothing outside
    val df = Seq((10L, 8L), (10L, 12L), (10L, 10L)).toDF("x", "y")
    val r = Stats.blandAltman(df, "x", "y").collect().head
    assert(r.getAs[Double]("bias") == 0.0)
    assert(r.getAs[Double]("sd_diff") == 2.0)
    assert(r.getAs[Double]("upper_limit") == 3.919928)
    assert(r.getAs[Double]("lower_limit") == -3.919928)
    assert(r.getAs[Long]("n_outside") == 0L)
    val loud = intercept[Exception] {
      Stats.blandAltman(Seq((1L, 2L)).toDF("x", "y"), "x", "y")
        .collect()
    }
    assert(loud.getMessage.contains("< 2"), loud.getMessage)
  }

  test("gwetAC1: hand pooled marginals; a single observed category " +
    "degenerates to raw agreement") {
    // (A,A),(A,A),(A,B),(B,B): po = .75, π = (.625,.375) →
    // e = .46875, AC1 = .28125/.53125
    val df = Seq(("A", "A"), ("A", "A"), ("A", "B"), ("B", "B"))
      .toDF("a", "b")
    val r = Stats.gwetAC1(df, "a", "b").collect().head
    assert(r.getAs[Double]("po") == 0.75)
    assert(r.getAs[Double]("pe_gwet") == 0.46875)
    assert(r.getAs[Double]("ac1") == 0.529412)
    val mono = Stats.gwetAC1(Seq(("A", "A"), ("A", "A")).toDF("a", "b"),
      "a", "b").collect().head
    assert(mono.getAs[Long]("n_categories") == 1L)
    assert(mono.getAs[Double]("pe_gwet") == 0.0)
    assert(mono.getAs[Double]("ac1") == 1.0)
  }

  test("cohensH: hand arcsine gap on quarter/three-quarter arms; " +
    "degenerate inputs are loud") {
    // p0=.25, p1=.75: phi0 = 2 asin(.5) = pi/3, phi1 = 2 pi/3 ->
    // h = d6(2.094395 - 1.047198) = 1.047197, large
    val df = Seq((0L, 1L), (0L, 0L), (0L, 0L), (0L, 0L),
      (1L, 1L), (1L, 1L), (1L, 1L), (1L, 0L)).toDF("arm", "x")
    val r = Stats.cohensH(df, "arm", "x").collect().head
    assert(r.getAs[Double]("p0") == 0.25)
    assert(r.getAs[Double]("p1") == 0.75)
    assert(r.getAs[Double]("h") == 1.047197)
    assert(r.getAs[String]("magnitude") == "large")
    val bad = intercept[Exception] {
      Stats.cohensH(Seq((2L, 1L)).toDF("arm", "x"), "arm", "x")
        .collect()
    }
    assert(bad.getMessage.contains("not 0/1"), bad.getMessage)
    val empty = intercept[Exception] {
      Stats.cohensH(df.filter(col("arm") === 1L), "arm", "x")
        .collect()
    }
    assert(empty.getMessage.contains("empty"), empty.getMessage)
  }

  test("smrIndirect: hand stratum rates give expected = 3; a study-" +
    "only stratum is loud") {
    // s1: ref 2/10 -> rate .2, study n=5; s2: ref 1/4, study n=8 ->
    // expected = 1 + 2 = 3; observed = 3 + 1 = 4 -> SMR = 4/3
    val rows =
      (1 to 10).map(i => ("s1", true, if (i <= 2) 1L else 0L)) ++
      (1 to 5).map(i => ("s1", false, if (i <= 3) 1L else 0L)) ++
      (1 to 4).map(i => ("s2", true, if (i <= 1) 1L else 0L)) ++
      (1 to 8).map(i => ("s2", false, if (i <= 1) 1L else 0L))
    val df = rows.toDF("s", "ref", "x")
    val r = Stats.smrIndirect(df, "s", col("ref"), "x").collect().head
    assert(r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Long]("observed") == 4L)
    assert(r.getAs[Double]("expected") == 3.0)
    assert(r.getAs[Double]("smr") == 1.333333)
    val loud = intercept[Exception] {
      Stats.smrIndirect(
        df.union(Seq(("s3", false, 1L)).toDF("s", "ref", "x")),
        "s", col("ref"), "x").collect()
    }
    assert(loud.getMessage.contains("no reference rows"), loud.getMessage)
  }

  test("byFdr: the harmonic factor shrinks the BH reject set; " +
    "adjusted p is the reverse running min of the c(m)-scaled chain") {
    // m=4: c = 1 + .5 + .333333 + .25 = 2.083333 (d6 terms);
    // q=.2 -> ranks 1-3 pass, rank 4 fails
    val df = Seq(("a", 0.001), ("b", 0.01), ("c", 0.02), ("d", 0.5))
      .toDF("k", "p")
    val out = Stats.byFdr(df, "k", "p", q = 0.2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("c_m") == 2.083333)
    assert(out("a").getAs[Double]("p_adj") == 0.008333)
    assert(out("b").getAs[Double]("p_adj") == 0.041667)
    assert(out("c").getAs[Double]("p_adj") == 0.055556)
    assert(out("d").getAs[Double]("p_adj") == 1.0)
    assert(Seq("a", "b", "c").forall(out(_).getAs[Int]("rejected") == 1))
    assert(out("d").getAs[Int]("rejected") == 0)
    intercept[IllegalArgumentException] {
      Stats.byFdr(df, "k", "p", q = 0.0)
    }
  }

  test("trimmedStats: a planted outlier owns the raw mean but not " +
    "the trimmed/winsorized ones; trim bounds are loud") {
    // x = [1,2,3,4,100] at 20% trim: g=1, mid = {2,3,4} -> trimmed 3,
    // winsorized (9 + 2 + 4)/5 = 3, raw 22
    val df = Seq(1L, 2L, 3L, 4L, 100L).map(("k", _)).toDF("k", "x")
    val r = Stats.trimmedStats(df, "k", "x", trimPpm = 200000L)
      .collect().head
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Long]("n_trimmed") == 1L)
    assert(r.getAs[Double]("mean_raw") == 22.0)
    assert(r.getAs[Double]("mean_trimmed") == 3.0)
    assert(r.getAs[Double]("mean_winsorized") == 3.0)
    intercept[IllegalArgumentException] {
      Stats.trimmedStats(df, "k", "x", trimPpm = 500000L)
    }
  }

  test("gainLiftTable: hand two-band cut; perfect top-band targeting " +
    "reads lift 2 on a 50% base; bad label is loud") {
    val df = Seq((1L, 40L, 1), (2L, 30L, 1), (3L, 20L, 0),
      (4L, 10L, 0)).toDF("id", "s", "y")
    val out = Stats.gainLiftTable(df, "id", "s", "y", groups = 2)
      .collect().map(r => r.getAs[Long]("band") -> r).toMap
    assert(out(1L).getAs[Long]("n") == 2L)
    assert(out(1L).getAs[Long]("n_resp") == 2L)
    assert(out(1L).getAs[Double]("resp_rate") == 1.0)
    assert(out(1L).getAs[Double]("lift") == 2.0)
    assert(out(1L).getAs[Double]("cum_capture") == 1.0)
    assert(out(2L).getAs[Double]("lift") == 0.0)
    assert(out(2L).getAs[Long]("cum_resp") == 2L)
    // zero responders: lift/capture NULL
    val zero = Stats.gainLiftTable(
      df.withColumn("y", lit(0)), "id", "s", "y", groups = 2)
      .collect()(0)
    assert(zero.isNullAt(zero.fieldIndex("lift")))
    val loud = intercept[Exception] {
      Stats.gainLiftTable(Seq((1L, 1L, 7)).toDF("id", "s", "y"),
        "id", "s", "y", groups = 2).collect()
    }
    assert(loud.getMessage.contains("not 0/1"), loud.getMessage)
  }

  test("optimalThreshold: hand utility sweep picks the exact winner; " +
    "ties break to the LOWEST threshold; single-class input is loud") {
    val df = Seq((10L, 1), (8L, 1), (6L, 0), (4L, 1), (2L, 0))
      .toDF("s", "y")
    val r = Stats.optimalThreshold(df, "s", "y", benefitTp = 2L,
      costFp = 1L, costFn = 1L).collect()(0)
    assert(r.getAs[Long]("threshold") == 4L)
    assert(r.getAs[Long]("tp") == 3L && r.getAs[Long]("fp") == 1L)
    assert(r.getAs[Long]("utility") == 5L)
    assert(r.getAs[Long]("base_utility") == -3L)
    // utility ties at t=10 and t=3 → lowest threshold wins
    val tie = Stats.optimalThreshold(
      Seq((10L, 1), (5L, 0), (3L, 1)).toDF("s", "y"), "s", "y",
      benefitTp = 1L, costFp = 1L, costFn = 0L).collect()(0)
    assert(tie.getAs[Long]("threshold") == 3L)
    assert(tie.getAs[Long]("utility") == 1L)
    val loud = intercept[Exception] {
      Stats.optimalThreshold(Seq((1L, 1), (2L, 1)).toDF("s", "y"),
        "s", "y", 1L, 1L, 1L).collect()
    }
    assert(loud.getMessage.contains("at least one"), loud.getMessage)
  }

  test("itemAnalysis: hand difficulty and rest-score point-biserial; " +
    "zero-variance item answers NULL; incomplete grid and bad score " +
    "are loud") {
    // 3 raters × 2 items: both items have discrimination 0.5
    val df = Seq(("r1", "i1", 1), ("r1", "i2", 1), ("r2", "i1", 1),
      ("r2", "i2", 0), ("r3", "i1", 0), ("r3", "i2", 0))
      .toDF("r", "i", "y")
    val out = Stats.itemAnalysis(df, "r", "i", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("i1").getAs[Long]("n_raters") == 3L)
    assert(out("i1").getAs[Double]("difficulty") == 0.666667)
    assert(out("i1").getAs[Double]("discrimination") == 0.5)
    assert(out("i2").getAs[Double]("difficulty") == 0.333333)
    assert(out("i2").getAs[Double]("discrimination") == 0.5)
    // an all-correct item has zero variance → NULL discrimination
    val flat = Stats.itemAnalysis(
      df.withColumn("y", when(col("i") === "i1", 1).otherwise(col("y"))),
      "r", "i", "y").collect().map(r => r.getString(0) -> r).toMap
    assert(flat("i1").isNullAt(flat("i1").fieldIndex("discrimination")))
    val inc = intercept[Exception] {
      Stats.itemAnalysis(df.limit(5), "r", "i", "y").collect()
    }
    assert(inc.getMessage.contains("incomplete grid"), inc.getMessage)
    val loud = intercept[Exception] {
      Stats.itemAnalysis(Seq(("r1", "i1", 2)).toDF("r", "i", "y"),
        "r", "i", "y").collect()
    }
    assert(loud.getMessage.contains("not 0/1"), loud.getMessage)
  }

  test("weightedKappa: hand 2x2 ordinal table; a single shared " +
    "category answers NULL") {
    // O = [[2,1],[1,2]] on categories {1,2}: κ_w = 1 − 6·2/18 = 1/3
    val rows = Seq.fill(2)((1L, 1L)) ++ Seq((1L, 2L), (2L, 1L)) ++
      Seq.fill(2)((2L, 2L))
    val r = Stats.weightedKappa(rows.toDF("ra", "rb"), "ra", "rb")
      .collect()(0)
    assert(r.getAs[Long]("n_items") == 6L)
    assert(r.getAs[Double]("kappa_w") == 0.333333)
    val const = Stats.weightedKappa(
      Seq((1L, 1L), (1L, 1L)).toDF("ra", "rb"), "ra", "rb")
      .collect()(0)
    assert(const.isNullAt(const.fieldIndex("kappa_w")))
  }

  test("tostMeans: replicated z chain on tight arms; constant arms " +
    "answer NULL; bad arm and margin are loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val df = Seq((0L, 100L), (0L, 102L), (1L, 101L), (1L, 103L))
      .toDF("a", "x")
    val r = Stats.tostMeans(df, "a", "x", margin = 10.0).collect()(0)
    assert(r.getAs[Double]("mean0") == 101.0)
    assert(r.getAs[Double]("mean1") == 102.0)
    assert(r.getAs[Double]("diff") == 1.0)
    val se = d6(math.sqrt(2.0))
    assert(r.getAs[Double]("se") == se)
    assert(r.getAs[Double]("t_lower") == d6(11.0 / se))
    assert(r.getAs[Double]("t_upper") == d6(9.0 / se))
    assert(r.getAs[Int]("equivalent") == 1)
    assert(r.getAs[Double]("p_lower") < 0.001)
    // a NEGATIVE one-sided statistic must read p > 0.5 (the branch
    // an unfixed erfc/2 would get wrong)
    val far = Stats.tostMeans(
      Seq((0L, 0L), (0L, 2L), (1L, 100L), (1L, 102L)).toDF("a", "x"),
      "a", "x", margin = 10.0).collect()(0)
    assert(far.getAs[Double]("t_upper") < 0.0)
    assert(far.getAs[Double]("p_upper") > 0.5)
    assert(far.getAs[Int]("equivalent") == 0)
    val const = Stats.tostMeans(
      Seq((0L, 5L), (0L, 5L), (1L, 5L), (1L, 5L)).toDF("a", "x"),
      "a", "x", margin = 1.0).collect()(0)
    assert(const.isNullAt(const.fieldIndex("se")))
    intercept[IllegalArgumentException] {
      Stats.tostMeans(df, "a", "x", margin = 0.0)
    }
    val loud = intercept[Exception] {
      Stats.tostMeans(Seq((2L, 1L)).toDF("a", "x"), "a", "x", 1.0)
        .collect()
    }
    assert(loud.getMessage.contains("arm flag"), loud.getMessage)
  }

  test("twoProportionDiff reproduces Newcombe (1998)'s published " +
    "method-10 example (external cross-validation)") {
    // 56/70 vs 48/80: d = 0.2, CI (0.0524, 0.3339) per the paper
    val rows = Seq.fill(56)((1, 1)) ++ Seq.fill(14)((1, 0)) ++
      Seq.fill(48)((0, 1)) ++ Seq.fill(32)((0, 0))
    val r = Stats.twoProportionDiff(rows.toDF("a", "y"), "a", "y")
      .collect()(0)
    assert(r.getAs[Double]("diff") == 0.2)
    assert(math.abs(r.getAs[Double]("ci_lo") - 0.0524) < 5e-5,
      r.getAs[Double]("ci_lo").toString)
    assert(math.abs(r.getAs[Double]("ci_hi") - 0.3339) < 5e-5,
      r.getAs[Double]("ci_hi").toString)
    assert(r.getAs[Int]("significant") == 1)
  }

  test("twoProportionDiff: replicated Newcombe interval on a hand " +
    "2x10 design; empty arm and bad flag are loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def wilson(x: Double, n: Double, up: Boolean): Double = {
      val z = 1.96; val ph = x / n; val dn = 1.0 + z * z / n
      val c = ph + z * z / (2.0 * n)
      val h = z * math.sqrt((ph * (1.0 - ph) + z * z / (4.0 * n)) / n)
      d6((if (up) c + h else c - h) / dn)
    }
    val rows = Seq.fill(2)((0, 1)) ++ Seq.fill(8)((0, 0)) ++
      Seq.fill(8)((1, 1)) ++ Seq.fill(2)((1, 0))
    val r = Stats.twoProportionDiff(rows.toDF("a", "y"), "a", "y")
      .collect()(0)
    assert(r.getAs[Double]("p0") == 0.2 && r.getAs[Double]("p1") == 0.8)
    assert(r.getAs[Double]("diff") == 0.6)
    val (p0, p1) = (0.2, 0.8)
    val (l0, u0) = (wilson(2, 10, up = false), wilson(2, 10, up = true))
    val (l1, u1) = (wilson(8, 10, up = false), wilson(8, 10, up = true))
    assert(r.getAs[Double]("ci_lo") == d6((p1 - p0) -
      math.sqrt((p1 - l1) * (p1 - l1) + (u0 - p0) * (u0 - p0))))
    assert(r.getAs[Double]("ci_hi") == d6((p1 - p0) +
      math.sqrt((u1 - p1) * (u1 - p1) + (p0 - l0) * (p0 - l0))))
    assert(r.getAs[Int]("significant") == 1)
    val empty = intercept[Exception] {
      Stats.twoProportionDiff(Seq((1, 1), (1, 0)).toDF("a", "y"),
        "a", "y").collect()
    }
    assert(empty.getMessage.contains("arm 0 is empty"), empty.getMessage)
    val loud = intercept[Exception] {
      Stats.twoProportionDiff(Seq((0, 2)).toDF("a", "y"), "a", "y")
        .collect()
    }
    assert(loud.getMessage.contains("not 0/1"), loud.getMessage)
  }

  test("gumbelFit: replicated moment fit on two maxima; constant " +
    "maxima answer NULL; n < 2 and bad periods are loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val out = Stats.gumbelFit(
      Seq(("k", 10L), ("k", 20L)).toDF("g", "x"), "g", "x",
      returnPeriods = Seq(10))
      .collect()(0)
    val mean = 15.0
    val sd = d6(math.sqrt(d6((2.0 * 500 - 900) / 2.0)))
    val sigma = d6(sd * (math.sqrt(6.0) / math.Pi))
    val mu = d6(mean - 0.5772156649015329 * sigma)
    val y10 = -math.log(-math.log(0.9))
    assert(out.getAs[Double]("mean_max") == mean)
    assert(out.getAs[Double]("sigma") == sigma)
    assert(out.getAs[Double]("mu") == mu)
    assert(out.getAs[Long]("return_period") == 10L)
    assert(out.getAs[Double]("return_level") == d6(mu + sigma * y10))
    val const = Stats.gumbelFit(
      Seq(("k", 5L), ("k", 5L)).toDF("g", "x"), "g", "x").collect()(0)
    assert(const.isNullAt(const.fieldIndex("sigma")))
    assert(const.isNullAt(const.fieldIndex("return_level")))
    val loud = intercept[Exception] {
      Stats.gumbelFit(Seq(("k", 5L)).toDF("g", "x"), "g", "x")
        .collect()
    }
    assert(loud.getMessage.contains("< 2"), loud.getMessage)
    intercept[IllegalArgumentException] {
      Stats.gumbelFit(Seq(("k", 5L)).toDF("g", "x"), "g", "x",
        returnPeriods = Seq(1))
    }
  }

  test("powerTwoProportions: replicated closed form; equal rates " +
    "answer NULL; out-of-range ppm is loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val out = Stats.powerTwoProportions(
      Seq((100000L, 150000L), (100000L, 100000L)).toDF("p0", "p1"),
      "p0", "p1").collect().map(r => r.getAs[Double]("p1") -> r).toMap
    // replicate the exact double path: ppm/1e6 divisions, then the
    // raw double delta (≈ .05 − one ulp), never a literal .05
    val p0 = 100000L.toDouble / 1.0e6
    val p1 = 150000L.toDouble / 1.0e6
    val pb = (100000L + 150000L).toDouble / 2.0e6
    val delta = math.abs(p1 - p0)
    val a = 1.959964 * math.sqrt(2.0 * pb * (1.0 - pb)) +
      0.841621 * math.sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1))
    val expected = math.ceil((a / delta) * (a / delta)).toLong
    assert(out(0.15).getAs[Long]("n_required") == expected)
    assert(out(0.15).getAs[Double]("diff") == d6(0.05))
    assert(out(0.1).isNullAt(out(0.1).fieldIndex("n_required")))
    val loud = intercept[Exception] {
      Stats.powerTwoProportions(Seq((0L, 5L)).toDF("p0", "p1"),
        "p0", "p1").collect()
    }
    assert(loud.getMessage.contains("outside"), loud.getMessage)
  }

  test("lorenzCurve: hand cumulative shares at the exact cut ranks; " +
    "negatives and n < points are loud") {
    // values 1,2,3,4 at 2 points: cuts at ranks 2 and 4 → shares
    // 3/10 and 1
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L))
      .toDF("u", "y")
    val out = Stats.lorenzCurve(df, "u", "y", points = 2).collect()
      .map(r => r.getAs[Long]("point") -> r).toMap
    assert(out(1L).getAs[Double]("pop_share") == 0.5)
    assert(out(1L).getAs[Long]("n_cum") == 2L)
    assert(out(1L).getAs[Double]("value_share") == 0.3)
    assert(out(2L).getAs[Double]("value_share") == 1.0)
    val neg = intercept[Exception] {
      Stats.lorenzCurve(Seq(("a", -1L), ("b", 1L)).toDF("u", "y"),
        "u", "y", points = 2).collect()
    }
    assert(neg.getMessage.contains("negative value"), neg.getMessage)
    val small = intercept[Exception] {
      Stats.lorenzCurve(df, "u", "y", points = 5).collect()
    }
    assert(small.getMessage.contains("cut ranks"), small.getMessage)
  }

  test("kakwani: hand closed-form indices; zero contribution answers " +
    "NULL; negatives are loud") {
    // base 1,2,3 / contrib 0,0,6: G = 4/18 = .222222,
    // C = 12/18 = .666667 → K = .444445 (d6 of d6 difference)
    val df = Seq(("u1", 1L, 0L), ("u2", 2L, 0L), ("u3", 3L, 6L))
      .toDF("u", "y", "t")
    val r = Stats.kakwani(df, "u", "y", "t").collect()(0)
    assert(r.getAs[Double]("gini_base") == 0.222222)
    assert(r.getAs[Double]("conc_contrib") == 0.666667)
    assert(r.getAs[Double]("kakwani") == 0.444445)
    val z = Stats.kakwani(
      Seq(("u1", 1L, 0L), ("u2", 2L, 0L)).toDF("u", "y", "t"),
      "u", "y", "t").collect()(0)
    assert(z.isNullAt(z.fieldIndex("conc_contrib")))
    assert(z.isNullAt(z.fieldIndex("kakwani")))
    val loud = intercept[Exception] {
      Stats.kakwani(Seq(("u1", 1L, -1L)).toDF("u", "y", "t"),
        "u", "y", "t").collect()
    }
    assert(loud.getMessage.contains("negative"), loud.getMessage)
  }

  test("andersonDarling: replicated d6 chain on a hand sample; " +
    "skewed spend is significant; constant NULL; n < 8 loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val xs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 100L)
    val out = Stats.andersonDarling(xs.map(Tuple1(_)).toDF("x"), "x")
      .collect()(0)
    // replicate: exact sums → d6 mean, d6(√d6) sd, d6 z, shared-poly
    // Φ, then the class-6 substitution form — per VALUE RUN [a, b]:
    // w1 = b²−(a−1)², w2 = t(2n+1) − (b(b+1) − (a−1)a), ONE d6 of
    // w1·lnΦ + w2·ln(1−Φ) per run — then d6 A², d6 A*²
    val n = xs.size
    val s = xs.sum.toDouble
    val q = xs.map(v => v.toDouble * v).sum
    val mean = d6(s / n)
    val sd = d6(math.sqrt(d6((n * q - s * s) / (n.toDouble * (n - 1)))))
    def phi(z: Double): Double = {
      val x = math.abs(z) / math.sqrt(2.0)
      val t = 1.0 / (1.0 + 0.3275911 * x)
      val p = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) *
        t - 0.284496736) * t + 0.254829592) * t * math.exp(-(x * x))
      if (z >= 0.0) 1.0 - p / 2.0 else p / 2.0
    }
    def runTerms(sorted: Seq[Long], nn: Int, m: Double, sdev: Double) = {
      val runs = sorted.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (v, g) => (v, g.size) }
      runs.foldLeft((0L, Seq.empty[Double])) {
        case ((cb, acc), (v, t)) =>
          val zz = d6((v - m) / sdev)
          val b = cb + t
          val w1 = (b * b - cb * cb).toDouble
          val w2 = (t.toLong * (2L * nn + 1L) -
            (b * (b + 1L) - cb * (cb + 1L))).toDouble
          (b, acc :+ d6(w1 * math.log(phi(zz)) +
            w2 * math.log(1.0 - phi(zz))))
      }._2
    }
    val terms = runTerms(xs.sorted, n, mean, sd)
    val a2 = d6(-n.toDouble - BigDecimal(terms.map(BigDecimal(_)).sum
      .toDouble).toDouble / n)
    assert(out.getAs[Double]("mean") == mean)
    assert(out.getAs[Double]("sd") == sd)
    assert(out.getAs[Double]("a2") == a2)
    assert(out.getAs[Double]("a2_star") ==
      d6(a2 * (1.0 + 4.0 / n - 25.0 / (n.toDouble * n))))
    assert(out.getAs[Int]("significant") == 1) // one huge outlier
    // tied runs exercise the closed-form odd-sum weights (a 3-run
    // sample where one run has t = 3): replicate the same chain
    val tied = Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L, 9L)
    val outT = Stats.andersonDarling(tied.map(Tuple1(_)).toDF("x"), "x")
      .collect()(0)
    val sT = tied.sum.toDouble
    val qT = tied.map(v => v.toDouble * v).sum
    val meanT = d6(sT / 8)
    val sdT = d6(math.sqrt(d6((8 * qT - sT * sT) / (8.0 * 7))))
    val termsT = runTerms(tied, 8, meanT, sdT)
    val a2T = d6(-8.0 - BigDecimal(termsT.map(BigDecimal(_)).sum
      .toDouble).toDouble / 8)
    assert(outT.getAs[Double]("a2") == a2T)
    val const = Stats.andersonDarling(
      Seq.fill(8)(Tuple1(5L)).toDF("x"), "x").collect()(0)
    assert(const.isNullAt(const.fieldIndex("a2")))
    val loud = intercept[Exception] {
      Stats.andersonDarling(Seq(Tuple1(1L), Tuple1(2L)).toDF("x"), "x")
        .collect()
    }
    assert(loud.getMessage.contains("< 8"), loud.getMessage)
  }

  test("gTest: hand 2×2 likelihood-ratio terms; degenerate table is " +
    "loud") {
    // O = [[10,20],[20,10]]: terms ±d6 → G = 6.795962, df 1,
    // significant at 3.841459
    val rows = Seq.fill(10)(("r0", "c0")) ++ Seq.fill(20)(("r0", "c1")) ++
      Seq.fill(20)(("r1", "c0")) ++ Seq.fill(10)(("r1", "c1"))
    val r = Stats.gTest(rows.toDF("a", "b"), "a", "b").collect()(0)
    assert(r.getAs[Long]("n") == 60L)
    assert(r.getAs[Long]("n_rows") == 2L && r.getAs[Long]("n_cols") == 2L)
    assert(r.getAs[Double]("g_stat") == 6.795962)
    assert(r.getAs[Long]("df") == 1L)
    assert(r.getAs[Int]("significant") == 1)
    val loud = intercept[Exception] {
      Stats.gTest(Seq(("r0", "c0"), ("r1", "c0")).toDF("a", "b"),
        "a", "b").collect()
    }
    assert(loud.getMessage.contains("needs >= 2"), loud.getMessage)
  }

  test("hosmerLemeshow: hand 3-group χ² terms; a zero-expected group " +
    "answers NULL χ²; out-of-range prob and bad label are loud") {
    // groups of 3 by (prob, id): sp 6e5/1.5e6/2.4e6, obs 1/2/3 →
    // terms 1/3, 1/3, 3/4 → χ² = 1.416666 (d6 per term), df 1, not
    // significant at 3.841459
    val df = Seq(
      (1L, 100000L, 0), (2L, 200000L, 0), (3L, 300000L, 1),
      (4L, 400000L, 0), (5L, 500000L, 1), (6L, 600000L, 1),
      (7L, 700000L, 1), (8L, 800000L, 1), (9L, 900000L, 1))
      .toDF("id", "p", "y")
    val out = Stats.hosmerLemeshow(df, "id", "p", "y", groups = 3)
      .collect().map(r => r.getAs[Long]("cal_group") -> r).toMap
    assert(out.size == 3)
    assert(out(0L).getAs[Long]("obs_events") == 1L)
    assert(out(0L).getAs[Double]("exp_events") == 0.6)
    assert(out(2L).getAs[Long]("obs_events") == 3L)
    assert(out.values.forall(_.getAs[Double]("chi2") == 1.416666))
    assert(out(0L).getAs[Long]("df") == 1L)
    assert(out(0L).getAs[Int]("significant") == 0)
    // a group with every prob 0 has expected 0 events → NULL χ²
    val degen = Stats.hosmerLemeshow(
      df.withColumn("p", when(col("id") <= 3L, 0L).otherwise(col("p"))),
      "id", "p", "y", groups = 3).collect()(0)
    assert(degen.isNullAt(degen.fieldIndex("chi2")))
    val loudP = intercept[Exception] {
      Stats.hosmerLemeshow(Seq((1L, 2000000L, 1), (2L, 1L, 0))
        .toDF("id", "p", "y"), "id", "p", "y", groups = 3).collect()
    }
    assert(loudP.getMessage.contains("prob_ppm"), loudP.getMessage)
    intercept[IllegalArgumentException] {
      Stats.hosmerLemeshow(df, "id", "p", "y", groups = 2)
    }
  }

  test("brunnerMunzel reproduces the published lawstat reference " +
    "example (external cross-validation — the replayed oracle cannot " +
    "catch a formula error; a published value can)") {
    // Brunner & Munzel (2000) / R lawstat::brunner.munzel.test docs:
    // x = (1,2,1,1,1,1,1,1,1,1,2,4,1,1), y = (3,3,4,3,1,2,3,1,1,5,4)
    // → p̂ = 0.788961, W = 3.1375, df = 17.683
    val x = Seq(1L, 2L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 2L, 4L, 1L, 1L)
    val y = Seq(3L, 3L, 4L, 3L, 1L, 2L, 3L, 1L, 1L, 5L, 4L)
    val df = (x.map((0L, _)) ++ y.map((1L, _))).toDF("a", "v")
    val r = Stats.brunnerMunzel(df, "a", "v").collect()(0)
    assert(r.getAs[Double]("p_hat") == 0.788961)
    assert(math.abs(r.getAs[Double]("bm_stat") - 3.1375) < 5e-5,
      r.getAs[Double]("bm_stat").toString)
    assert(math.abs(r.getAs[Double]("df") - 17.683) < 5e-4,
      r.getAs[Double]("df").toString)
  }

  test("brunnerMunzel: hand placements on interleaved arms; complete " +
    "separation answers NULL W with p_hat = 1; bad arm is loud") {
    // arm0 = {1,3}, arm1 = {2,4}: placements arm0 {0,1}, arm1 {1,2},
    // v0 = v1 = 0.5, R̄0 = 2, R̄1 = 3 → p̂ = .75, se² = 2,
    // W = 4·1/(4·√2) = 0.707107 (d6), df = 4/(1+1) = 2
    val df = Seq((0L, 1L), (0L, 3L), (1L, 2L), (1L, 4L)).toDF("a", "x")
    val r = Stats.brunnerMunzel(df, "a", "x").collect()(0)
    assert(r.getAs[Long]("n0") == 2L && r.getAs[Long]("n1") == 2L)
    assert(r.getAs[Double]("p_hat") == 0.75)
    assert(r.getAs[Double]("bm_stat") == 0.707107)
    assert(r.getAs[Double]("df") == 2.0)
    // complete separation: all placements constant per arm → se² = 0
    val sep = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "x")
    val rs = Stats.brunnerMunzel(sep, "a", "x").collect()(0)
    assert(rs.getAs[Double]("p_hat") == 1.0)
    assert(rs.isNullAt(rs.fieldIndex("bm_stat")))
    assert(rs.isNullAt(rs.fieldIndex("df")))
    val loud = intercept[Exception] {
      Stats.brunnerMunzel(Seq((2L, 1L)).toDF("a", "x"), "a", "x")
        .collect()
    }
    assert(loud.getMessage.contains("arm flag"), loud.getMessage)
    // a missing arm reads count 0 off the value-grouped rollup and
    // stays loud (the old per-arm guard, class-6 rewrite preserved)
    val oneArm = intercept[Exception] {
      Stats.brunnerMunzel(
        Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "x"), "a", "x")
        .collect()
    }
    assert(oneArm.getMessage.contains("arm 1 has 0 rows"),
      oneArm.getMessage)
  }

  test("quadeTest: the textbook 3-block 3-treatment table gives " +
    "F = 4 exactly; incomplete designs and duplicate cells are loud") {
    // ranges 14/29/12 → Q = 2/3/1; S_A = 2, S_B = 4, S_C = −6;
    // A = 28, B = 56/3 → F = 2·(56/3)/(28/3) = 4, df (2, 4); s4 = 4S
    val df = Seq(
      ("b1", "A", 52L), ("b1", "B", 45L), ("b1", "C", 38L),
      ("b2", "A", 63L), ("b2", "B", 79L), ("b2", "C", 50L),
      ("b3", "A", 45L), ("b3", "B", 55L), ("b3", "C", 43L))
      .toDF("blk", "trt", "x")
    val out = Stats.quadeTest(df, "blk", "trt", "x").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("s4") == 8L)
    assert(out("B").getAs[Long]("s4") == 16L)
    assert(out("C").getAs[Long]("s4") == -24L)
    assert(out.values.forall(_.getAs[Double]("f_stat") == 4.0))
    assert(out("A").getAs[Long]("df1") == 2L)
    assert(out("A").getAs[Long]("df2") == 4L)
    val incomplete = intercept[Exception] {
      Stats.quadeTest(df.filter(!(col("blk") === "b3" &&
        col("trt") === "C")), "blk", "trt", "x").collect()
    }
    assert(incomplete.getMessage.contains("complete"),
      incomplete.getMessage)
    val dup = intercept[Exception] {
      Stats.quadeTest(df.union(Seq(("b1", "A", 99L))
        .toDF("blk", "trt", "x")), "blk", "trt", "x").collect()
    }
    assert(dup.getMessage.contains("duplicate cell"), dup.getMessage)
  }

  test("diagnosticPanel: hand 2×2 rates, Wilson bounds replicate the " +
    "fixed double order; undefined readouts are NULL; bad flag loud") {
    // tp=8 fn=2 tn=6 fp=4: sens .8, spec .6, ppv 8/12, npv .75,
    // LR+ 2, LR− .333333, J .4, DOR 6
    val rows = Seq.fill(8)((1, 1)) ++ Seq.fill(2)((1, 0)) ++
      Seq.fill(6)((0, 0)) ++ Seq.fill(4)((0, 1))
    val r = Stats.diagnosticPanel(rows.toDF("t", "p"), "t", "p")
      .collect()(0)
    assert(r.getAs[Long]("tp") == 8L && r.getAs[Long]("fn") == 2L &&
      r.getAs[Long]("tn") == 6L && r.getAs[Long]("fp") == 4L)
    assert(r.getAs[Double]("sensitivity") == 0.8)
    assert(r.getAs[Double]("specificity") == 0.6)
    assert(r.getAs[Double]("ppv") == 0.666667)
    assert(r.getAs[Double]("npv") == 0.75)
    assert(r.getAs[Double]("lr_plus") == 2.0)
    assert(r.getAs[Double]("lr_minus") == 0.333333)
    assert(r.getAs[Double]("youden_j") == 0.4)
    assert(r.getAs[Double]("dor") == 6.0)
    // Wilson replicated in the same double order (z = 1.96, n = 10)
    def wilson(num: Double, n: Double, up: Boolean): Double = {
      val z = 1.96; val ph = num / n; val dn = 1.0 + z * z / n
      val c = ph + z * z / (2.0 * n)
      val h = z * math.sqrt((ph * (1.0 - ph) + z * z / (4.0 * n)) / n)
      val raw = (if (up) c + h else c - h) / dn
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    assert(r.getAs[Double]("sens_lo") == wilson(8, 10, up = false))
    assert(r.getAs[Double]("sens_hi") == wilson(8, 10, up = true))
    assert(r.getAs[Double]("sens_lo") > 0.4 &&
      r.getAs[Double]("sens_hi") < 1.0)
    // all-positive truth: specificity family is NULL, DOR too (fp=0)
    val allPos = Stats.diagnosticPanel(
      Seq((1, 1), (1, 0)).toDF("t", "p"), "t", "p").collect()(0)
    assert(allPos.isNullAt(allPos.fieldIndex("specificity")))
    assert(allPos.isNullAt(allPos.fieldIndex("dor")))
    val loud = intercept[Exception] {
      Stats.diagnosticPanel(Seq((2, 1)).toDF("t", "p"), "t", "p")
        .collect()
    }
    assert(loud.getMessage.contains("flag"), loud.getMessage)
  }

  test("cucconiTest: replicated standardization chain on clean split " +
    "arms; n = 2 and bad arm flags are loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // arms 0 = {1,2}, 1 = {3,4}: U4 = 36+64 = 100, V4 = 16+4 = 20
    val df = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "x")
    val r = Stats.cucconiTest(df, "a", "x").collect()(0)
    val (n, n0, n1) = (4.0, 2.0, 2.0)
    val eU4 = 2.0 * n1 * (n + 1.0) * (2.0 * n + 1.0) / 3.0
    val sdU4 = 4.0 * math.sqrt(n0 * n1 * (n + 1.0) * (2.0 * n + 1.0) *
      (8.0 * n + 11.0) / 180.0)
    val uS = d6((100.0 - eU4) / sdU4)
    val vS = d6((20.0 - eU4) / sdU4)
    val rho = 2.0 * (n * n - 4.0) /
      ((2.0 * n + 1.0) * (8.0 * n + 11.0)) - 1.0
    val c = d6((uS * uS + vS * vS - 2.0 * rho * uS * vS) /
      (2.0 * (1.0 - rho * rho)))
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("u_star") == uS)
    assert(r.getAs[Double]("v_star") == vS)
    assert(r.getAs[Double]("cucconi_c") == c)
    assert(r.getAs[Double]("p_value") == d6(math.exp(-c)))
    // a shifted-AND-widened arm 1 must read more extreme C than A/A
    val aa = Stats.cucconiTest(
      Seq((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L)).toDF("a", "x"),
      "a", "x").collect()(0)
    assert(aa.getAs[Double]("cucconi_c") < r.getAs[Double]("cucconi_c"))
    val loudN = intercept[Exception] {
      Stats.cucconiTest(Seq((0L, 1L), (1L, 2L)).toDF("a", "x"),
        "a", "x").collect()
    }
    assert(loudN.getMessage.contains("n >= 3"), loudN.getMessage)
    val loudArm = intercept[Exception] {
      Stats.cucconiTest(Seq((2L, 1L)).toDF("a", "x"), "a", "x")
        .collect()
    }
    assert(loudArm.getMessage.contains("arm flag"), loudArm.getMessage)
  }

  test("lepageTest: components equal mannWhitneyU's and " +
    "ansariBradley's z exactly (one value-grouped pass, two parent " +
    "chains); all-tied answers NULL; bad arm is loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val df = Seq((0L, 1L), (0L, 3L), (0L, 5L), (1L, 2L), (1L, 4L),
      (1L, 100L)).toDF("a", "x")
    val r = Stats.lepageTest(df, "a", "x").collect()(0)
    val mwu = Stats.mannWhitneyU(df, "a", "x").collect()(0)
    val ab = Stats.ansariBradley(df, "a", "x").collect()(0)
    assert(r.getAs[Double]("z_wilcoxon") == mwu.getAs[Double]("z_stat"))
    assert(r.getAs[Double]("z_ansari") == ab.getAs[Double]("z"))
    assert(r.getAs[Double]("lepage_l") ==
      d6(mwu.getAs[Double]("z_stat") * mwu.getAs[Double]("z_stat") +
        ab.getAs[Double]("z") * ab.getAs[Double]("z")))
    // every unit tied: both variances are 0 → NULL L (mannWhitneyU
    // raises there; the omnibus answers NULL instead — documented)
    val tied = Stats.lepageTest(
      Seq((0L, 5L), (0L, 5L), (1L, 5L), (1L, 5L)).toDF("a", "x"),
      "a", "x").collect()(0)
    assert(tied.isNullAt(tied.fieldIndex("lepage_l")))
    assert(tied.getAs[Int]("significant") == 0)
    val loud = intercept[Exception] {
      Stats.lepageTest(Seq((3L, 1L)).toDF("a", "x"), "a", "x")
        .collect()
    }
    assert(loud.getMessage.contains("arm flag"), loud.getMessage)
  }

  test("gehanWilcoxon: hand n_t-weighted U/V on a 2x2 survival " +
    "fixture; no-event input answers NULL z; bad group is loud") {
    // t=1: nr=4, p1=.5, u=4·(0−.5)=−2, v=16·1·.25·(3/3)=4
    // t=2: nr=2, p1=.5, u=2·(1−1)=0, v=0 (nr−d=0) → z = −2/2 = −1
    val df = Seq((1L, 1L, 0L), (2L, 1L, 0L), (1L, 0L, 1L),
      (2L, 1L, 1L)).toDF("t", "e", "g")
    val r = Stats.gehanWilcoxon(df, "t", "e", "g").collect()(0)
    assert(r.getAs[Long]("n_events_g1") == 1L)
    assert(r.getAs[Double]("u_gehan") == -2.0)
    assert(r.getAs[Double]("variance") == 4.0)
    assert(r.getAs[Double]("z") == -1.0)
    assert(r.getAs[Double]("chi2") == 1.0)
    assert(r.getAs[Int]("significant") == 0)
    val none = Stats.gehanWilcoxon(
      Seq((1L, 0L, 0L), (2L, 0L, 1L)).toDF("t", "e", "g"),
      "t", "e", "g").collect()(0)
    assert(none.isNullAt(none.fieldIndex("z")))
    val loud = intercept[Exception] {
      Stats.gehanWilcoxon(Seq((1L, 1L, 2L)).toDF("t", "e", "g"),
        "t", "e", "g").collect()
    }
    assert(loud.getMessage.contains("group flag"), loud.getMessage)
  }

  test("dunnTest: hand tie-free pair z and erfc p; all-tied answers " +
    "NULL z; one group emits no pairs; pair count is k(k-1)/2") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def erfcP(z: Double): Double = {
      val x = math.abs(z) / math.sqrt(2.0)
      val t = 1.0 / (1.0 + 0.3275911 * x)
      ((((1.061405429 * t - 1.453152027) * t + 1.421413741) *
        t - 0.284496736) * t + 0.254829592) * t * math.exp(-(x * x))
    }
    // a = {1,2}, b = {3,4}: rbar 1.5 vs 3.5; A = 4·5/12; se =
    // sqrt(A·1); z = −2/se
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L))
      .toDF("g", "x")
    val r = Stats.dunnTest(df, "g", "x").collect()(0)
    val aFac = 4.0 * 5.0 / 12.0
    val z = d6((1.5 - 3.5) / math.sqrt(aFac * (0.5 + 0.5)))
    assert(r.getAs[String]("group_a") == "a")
    assert(r.getAs[Double]("mean_rank_a") == 1.5)
    assert(r.getAs[Double]("mean_rank_b") == 3.5)
    assert(r.getAs[Double]("z") == z)
    assert(r.getAs[Double]("p_value") == d6(erfcP(z)))
    assert(r.getAs[Double]("p_bonferroni") == r.getAs[Double]("p_value"))
    // three groups → 3 pairs, Bonferroni m = 3
    val three = Stats.dunnTest(
      Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L), ("c", 5L),
        ("c", 6L)).toDF("g", "x"), "g", "x").collect()
    assert(three.length == 3)
    val p0 = three(0).getAs[Double]("p_value")
    assert(three(0).getAs[Double]("p_bonferroni") ==
      d6(math.min(1.0, p0 * 3.0)))
    // every value tied → A = 0 → NULL z
    val tied = Stats.dunnTest(
      Seq(("a", 5L), ("a", 5L), ("b", 5L)).toDF("g", "x"),
      "g", "x").collect()(0)
    assert(tied.isNullAt(tied.fieldIndex("z")))
    // one group: no pair to contrast (documented empty, not loud)
    assert(Stats.dunnTest(Seq(("a", 1L), ("a", 2L)).toDF("g", "x"),
      "g", "x").collect().isEmpty)
  }

  test("storeyQValues: hand pi0-scaled walk; pi0 = 1 collapses to the " +
    "BH adjusted p exactly; NULL p and bad lambda are loud") {
    // p = {.01,.02,.03,.8}, λ = .5: tail 1 → π₀ = .5; q = 2p/r with
    // the reverse running min → {.02,.02,.02,.4}
    val df = Seq(("t1", 0.01), ("t2", 0.02), ("t3", 0.03),
      ("t4", 0.8)).toDF("id", "p")
    val out = Stats.storeyQValues(df, "id", "p")
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(out("t1").getAs[Double]("pi0") == 0.5)
    assert(out("t1").getAs[Double]("q_value") == 0.02)
    assert(out("t3").getAs[Double]("q_value") == 0.02)
    assert(out("t4").getAs[Double]("q_value") == 0.4)
    assert(out("t1").getAs[Int]("significant") == 1)
    assert(out("t4").getAs[Int]("significant") == 0)
    // π₀ = 1 (half the mass above λ) ⇒ q == BH adjusted p, exactly
    val dfBh = Seq(("t1", 0.01), ("t2", 0.02), ("t3", 0.8),
      ("t4", 0.9)).toDF("id", "p")
    val q = Stats.storeyQValues(dfBh, "id", "p")
      .collect().map(r => r.getAs[String]("id") ->
        r.getAs[Double]("q_value")).toMap
    val bh = Stats.bhFdr(dfBh, "id", "p", q = 0.05)
      .collect().map(r => r.getAs[String]("id") ->
        r.getAs[Double]("p_adj")).toMap
    assert(q == bh, s"$q vs $bh")
    intercept[IllegalArgumentException] {
      Stats.storeyQValues(df, "id", "p", lambdaPermille = 0)
    }
    val loud = intercept[Exception] {
      Stats.storeyQValues(
        Seq(("t1", Double.NaN)).toDF("id", "p"), "id", "p").collect()
    }
    assert(loud.getMessage.contains("storeyQValues"), loud.getMessage)
  }

  test("metaCombine: cancelling z's zero Stouffer while Fisher still " +
    "accumulates; replicated erfc/log chain; m = 1 and NaN are loud") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def erfcP(z: Double): Double = {
      val x = math.abs(z) / math.sqrt(2.0)
      val t = 1.0 / (1.0 + 0.3275911 * x)
      ((((1.061405429 * t - 1.453152027) * t + 1.421413741) *
        t - 0.284496736) * t + 0.254829592) * t * math.exp(-(x * x))
    }
    val r = Stats.metaCombine(
      Seq(Tuple1(1.0), Tuple1(-1.0)).toDF("z"), "z").collect()(0)
    assert(r.getAs[Long]("m") == 2L)
    assert(r.getAs[Double]("stouffer_z") == 0.0)
    assert(r.getAs[Double]("stouffer_p") == d6(erfcP(0.0)))
    val p1 = d6(erfcP(1.0))
    val f = d6(-2.0 * math.log(p1))
    assert(r.getAs[Double]("fisher_chi2") ==
      d6((BigDecimal(f) + BigDecimal(f)).toDouble))
    assert(r.getAs[Long]("fisher_df") == 4L)
    assert(r.getAs[Int]("fisher_significant") == 0)
    // conflicting strong effects: Stouffer blind, Fisher loud
    val c = Stats.metaCombine(
      Seq(Tuple1(3.0), Tuple1(-3.0)).toDF("z"), "z").collect()(0)
    assert(c.getAs[Double]("stouffer_z") == 0.0)
    assert(c.getAs[Int]("fisher_significant") == 1)
    val loudM = intercept[Exception] {
      Stats.metaCombine(Seq(Tuple1(1.0)).toDF("z"), "z").collect()
    }
    assert(loudM.getMessage.contains("< 2"), loudM.getMessage)
    val loudNan = intercept[Exception] {
      Stats.metaCombine(Seq(Tuple1(1.0), Tuple1(Double.NaN)).toDF("z"),
        "z").collect()
    }
    assert(loudNan.getMessage.contains("NULL/NaN z"), loudNan.getMessage)
  }

  test("bowkerTest: hand swapped-cell terms incl. a one-way pair; " +
    "strong asymmetry is significant; diagonal never counts") {
    // cells: (a,a)·2, (a,b)·3, (b,a)·1, (a,c)·2 → terms (3−1)²/4 = 1
    // and (2−0)²/2 = 2 → χ² = 3, df = 2, n = 8
    val rows = Seq.fill(2)(("a", "a")) ++ Seq.fill(3)(("a", "b")) ++
      Seq(("b", "a")) ++ Seq.fill(2)(("a", "c"))
    val r = Stats.bowkerTest(rows.toDF("x", "y"), "x", "y").collect()(0)
    assert(r.getAs[Long]("n_items") == 8L)
    assert(r.getAs[Double]("chi2") == 3.0)
    assert(r.getAs[Long]("df") == 2L)
    assert(r.getAs[Int]("significant") == 0)
    val strong = Stats.bowkerTest(
      (Seq.fill(10)(("a", "b")) ++ Seq.fill(5)(("c", "c")))
        .toDF("x", "y"), "x", "y").collect()(0)
    assert(strong.getAs[Double]("chi2") == 10.0)
    assert(strong.getAs[Long]("df") == 1L)
    assert(strong.getAs[Int]("significant") == 1)
    // pure diagonal: no off-diagonal pair, NULL χ², never significant
    val diag = Stats.bowkerTest(
      Seq(("a", "a"), ("b", "b")).toDF("x", "y"), "x", "y").collect()(0)
    assert(diag.isNullAt(diag.fieldIndex("chi2")))
  }

  test("value-grouped rewrites equal an exact raw-row replay on a " +
    "300-row tie-heavy fixture (BM placements, AB scores, Mood " +
    "median — the class-6 other-discipline law)") {
    def d6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // 300 rows, values folded to 0..22 so tie runs are long, arms
    // interleaved deterministically
    val rows = (1 to 300).map(i => ((i % 2).toLong, (i * 37 % 23).toLong))
    val df = rows.toDF("a", "x")
    // raw-row doubled midranks replayed in plain Scala collections
    val xs = rows.map(_._2)
    def gr2(v: Long): Long =
      2L * (xs.count(_ < v) + 1) + xs.count(_ == v) - 1
    def ar2(arm: Long, v: Long): Long = {
      val ys = rows.filter(_._1 == arm).map(_._2)
      2L * (ys.count(_ < v) + 1) + ys.count(_ == v) - 1
    }
    // Brunner–Munzel: per-row placements → per-arm sums → the exact
    // double assembly the operator documents
    val byArm = rows.groupBy(_._1)
    val na = byArm.map { case (a, g) => a -> g.size.toLong }
    val sr = byArm.map { case (a, g) =>
      a -> g.map(r => BigInt(gr2(r._2))).sum }
    val q2s = rows.map { case (a, v) => (a, gr2(v) - ar2(a, v)) }
    val v6 = byArm.map { case (a, _) =>
      val qs = q2s.filter(_._1 == a).map(_._2)
      val n = na(a); val s = qs.map(BigInt(_)).sum
      val cs = qs.map(q => { val c = BigInt(n) * q - s; c * c }).sum
      a -> d6(cs.toDouble /
        (4.0 * n.toDouble * n.toDouble * (n.toDouble - 1.0)))
    }
    val (n0, n1) = (na(0L).toDouble, na(1L).toDouble)
    val rb0 = sr(0L).toDouble / (2.0 * n0)
    val rb1 = sr(1L).toDouble / (2.0 * n1)
    val (nv0, nv1) = (n0 * v6(0L), n1 * v6(1L))
    val bm = Stats.brunnerMunzel(df, "a", "x").collect()(0)
    assert(bm.getAs[Double]("p_hat") == d6((rb1 - (n1 + 1.0) / 2.0) / n0))
    assert(bm.getAs[Double]("bm_stat") ==
      d6(n0 * n1 * (rb1 - rb0) / ((n0 + n1) * math.sqrt(nv0 + nv1))))
    // Ansari–Bradley: inward doubled scores per row → the moments
    val nAll = rows.size.toLong
    val s2s = rows.map { case (_, v) =>
      val r2 = gr2(v); math.min(r2, 2L * (nAll + 1L) - r2) }
    val ab2 = rows.zip(s2s).collect { case ((1L, _), s) => s }.sum
    val ss = s2s.map(BigInt(_)).sum
    val ssq = s2s.map(s => BigInt(s) * s).sum
    val e2 = n1 * ss.toDouble / nAll.toDouble
    val var2 = n1 * n0 * (nAll.toDouble * ssq.toDouble -
      ss.toDouble * ss.toDouble) /
      (nAll.toDouble * nAll.toDouble * (nAll.toDouble - 1.0))
    val ab = Stats.ansariBradley(df, "a", "x").collect()(0)
    assert(ab.getAs[Double]("ab_stat") == d6(ab2.toDouble / 2.0))
    assert(ab.getAs[Double]("z") ==
      d6((ab2.toDouble - e2) / math.sqrt(var2)))
    // Mood: the lower-median order statistic of the raw total order
    val sorted = rows.map(_._2).sorted
    val med = sorted(((rows.size + 1) / 2) - 1)
    val mood = Stats.moodMedianTest(df, "a", "x").collect()(0)
    assert(mood.getAs[Long]("pooled_median") == med)
  }

  test("shardedTotalOrder equals the one-window form exactly — ranks, " +
    "cumulative, null placement, both directions, shard-count " +
    "invariant (the class-6 law, the deterministicShuffle q53 " +
    "playbook)") {
    import org.apache.spark.sql.expressions.Window
    // ties, a negative key, duplicated keys across many rows, and a
    // NULL key — everything the range map and end shards must handle
    val rows = (1L to 500L).map { i =>
      (s"id$i", if (i % 7 == 0) null else java.lang.Long.valueOf(
        (i * 37 % 83) - 11), i % 13)
    }.toDF("_tb", "_sk", "_v")
    for (desc <- Seq(false, true); nShards <- Seq(3, 64)) {
      val got = Stats.shardedTotalOrder(rows, desc = desc,
        cumCol = Some("_v"), shards = nShards)
        .select(col("_tb"), col("_grk"), col("_n"),
          col("_gcum").cast("long").as("_gcum"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val w =
        if (desc) Window.orderBy(col("_sk").desc, col("_tb").asc)
        else Window.orderBy(col("_sk").asc, col("_tb").asc)
      val want = rows
        .withColumn("_grk", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(
          Window.partitionBy(lit(1))))
        .withColumn("_gcum", sum(col("_v").cast("decimal(38,0)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .collect().map(r => r.getAs[String]("_tb") ->
          (r.getAs[Long]("_grk"), r.getAs[Long]("_n"),
            r.getAs[Long]("_gcum"))).toMap
      assert(got == want, s"desc=$desc shards=$nShards")
    }
    // constant key: one shard, ties broken on _tb — still exact
    val const = Seq(("b", 5L), ("a", 5L), ("c", 5L)).toDF("_tb", "_sk")
    val gotC = Stats.shardedTotalOrder(const)
      .select(col("_tb"), col("_grk")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotC == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("shardedTotalOrder GROUPED equals the one-window-per-group form " +
    "exactly — ranks, counts, cumulative, NULL group and NULL keys, " +
    "both directions, dialed-shard invariance (the r18 grouped class-6 " +
    "law behind rfmSegments/palmaShares)") {
    import org.apache.spark.sql.expressions.Window
    // 4 groups incl. a NULL group, ties within and across groups,
    // negative keys, NULL keys — the grouped bounds join is null-safe
    // and each group must get its own range map and offsets
    val rows = (1L to 600L).map { i =>
      val grp = i % 4 match {
        case 0 => null; case 1 => "g1"; case 2 => "g2"; case 3 => "g3"
      }
      (grp, s"id$i",
        if (i % 11 == 0) null
        else java.lang.Long.valueOf((i * 53 % 97) - 13), i % 7)
    }.toDF("_g", "_tb", "_sk", "_v")
    for (desc <- Seq(false, true); rps <- Seq(1L, 40L, 65536L)) {
      val got = Stats.shardedTotalOrder(rows, desc = desc,
        cumCol = Some("_v"), groupCols = Seq("_g"), rowsPerShard = rps)
        .select(col("_tb"), col("_grk"), col("_n"),
          col("_gcum").cast("long").as("_gcum"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val w =
        if (desc) Window.partitionBy(col("_g"))
          .orderBy(col("_sk").desc, col("_tb").asc)
        else Window.partitionBy(col("_g"))
          .orderBy(col("_sk").asc, col("_tb").asc)
      val want = rows
        .withColumn("_grk", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(
          Window.partitionBy(col("_g"))))
        .withColumn("_gcum", sum(col("_v").cast("decimal(38,0)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .collect().map(r => r.getAs[String]("_tb") ->
          (r.getAs[Long]("_grk"), r.getAs[Long]("_n"),
            r.getAs[Long]("_gcum"))).toMap
      assert(got == want, s"desc=$desc rowsPerShard=$rps")
    }
  }

  test("shardedTotalOrder dial extremes stay exact — rowsPerShard=1 " +
    "(per-row shards up to the cap) and the 2-shard floor both " +
    "reproduce the one-window ranks (VERDICT r17 #3)") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 100L).map(i => (s"id$i", i * 7 % 61)).toDF("_tb", "_sk")
    val want = rows.withColumn("_grk", row_number()
        .over(Window.orderBy(col("_sk").asc, col("_tb").asc)).cast("long"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("_grk")).toMap
    for (rps <- Seq(1L, 7L, 1000000L)) {
      val got = Stats.shardedTotalOrder(rows, rowsPerShard = rps)
        .select(col("_tb"), col("_grk")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, s"rowsPerShard=$rps")
    }
  }

  test("dunnTest raises LOUDLY on a NULL group (ADVICE r17 — a NULL " +
    "group would inflate N and the tie term while joining no pair)") {
    val ok = Seq(("a", 1L), ("a", 3L), ("b", 2L), ("b", 5L),
      ("c", 4L), ("c", 6L)).toDF("g", "x")
    assert(Stats.dunnTest(ok, "g", "x").collect().length == 3)
    val bad = Seq(("a", 1L), ("a", 3L), ("b", 2L), ("b", 5L),
      (null.asInstanceOf[String], 4L)).toDF("g", "x")
    val e = intercept[Exception] {
      Stats.dunnTest(bad, "g", "x").collect()
    }
    def msg(t: Throwable): String =
      if (t == null) "" else t.getMessage + msg(t.getCause)
    assert(msg(e).contains("dunnTest: NULL group"))
  }
}
