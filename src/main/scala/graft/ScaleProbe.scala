package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ConnectedComponents, CumVol, MinHashLSH, VectorOps}

/** Weak-scaling probe: the three heaviest pipelines at 1× and 10×
  * sf0.1, built by unioning id-shifted copies (key cardinality grows
  * 10×, per-key volume stays constant — the shape a 10× corpus
  * actually has). A pipeline whose plan is scale-correct shows
  * time(10×)/time(1×) ≈ 10 (linear, parallelism-limited) — quadratic
  * candidate blow-ups or driver bottlenecks show up as ratios ≫ 10.
  *
  * This is evidence, not a gate: the driver's bench runs sf0.1; this
  * main exists so "would this hold at 100×?" has a measured answer on
  * the axis that matters (keys/rows), documented in docs/NOTES.md.
  * Output: one JSON line (stdout + optional file arg).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def scaled(table: String, idCol: String, copies: Int): DataFrame = {
      val df = Tables(spark, dir, table)
      (0 until copies)
        .map(i => df.withColumn(idCol, col(idCol) + lit(i * 100000000L)))
        .reduce(_ unionByName _)
    }
    // round-9 (verdict ask #3): split each probe's wall time into the
    // span with ≥1 Spark job RUNNING (cluster compute) vs the residue
    // (driver floor: analysis, optimization, codegen compile, driver-
    // side post-processing between jobs). The two diagnose differently
    // at 10×: a growing JOB span is a plan problem (more per-row work
    // than the data growth explains); a constant FLOOR is fixed
    // per-query overhead that amortizes to zero at real scale and must
    // be divided out before reading a fixed-output probe's raw ratio.
    // The job span is [[graft.util.JobCount]]'s union of job intervals.
    def time(f: => Long): (Double, Long, Double) = {
      var wall = 0.0
      val (rows, jobs) = graft.util.JobCount(spark) {
        val s = System.nanoTime(); val r = f
        wall = (System.nanoTime() - s) / 1e9
        r
      }
      (wall, rows, jobs.busySec)
    }

    // Execute the frame's OWN physical plan (round-9): `df.count()`
    // builds a separate count QueryExecution in which Catalyst prunes
    // every column nothing references — a window-topped plan loses the
    // WHOLE window (verified: count over a running-sum frame optimizes
    // to Aggregate over the bare scan), so a count-timed window probe
    // measures a scan. toRdd runs this frame's executed plan with all
    // output columns materialized, no driver transfer — the same
    // discipline Bench's EXPLAIN path adopted in r8 for plans, applied
    // here to timing.
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

    def cumvol(c: Int): Long =
      exec(CumVol(scaled("events", "user_id", c), col("user_id"), col("ts"),
          col("event_id"), col("event_type"),
          floor(col("value")).cast("int"),
          buyMark = "purchase", sellMark = "click"))

    def textDedup(c: Int): Long = {
      val pairs = MinHashLSH.candidatePairs(
        scaled("documents", "doc_id", c), "doc_id", "text")
      ConnectedComponents(pairs, "doc_a", "doc_b").count()
    }

    def embedDedup(c: Int): Long =
      VectorOps.signBandCandidatePairs(
        scaled("embeddings", "vec_id", c), "vec_id", "embedding").count()

    // round-3 heavies, calling the SAME ops the registered queries use
    // (the probe must measure the plan it claims to provide evidence
    // for): gram-hash pair expansion (every copy duplicates every doc —
    // the adversarial case for the df cap) and the vector-sum centroid
    def decontaminate(c: Int): Long =
      graft.ops.Decontaminate(
        scaled("documents", "doc_id", c), "doc_id", "text",
        isEval = col("doc_id") % 20 === 0).count()

    def centroids(c: Int): Long =
      graft.ops.Centroids.quantizedSums(
        scaled("embeddings", "vec_id", c), "label", "embedding").count()

    // round-4 additions, calling the SAME shared ops the registered
    // queries use (Pq.encodeScan / VectorOps.l2Cells+withinCellCosinePairs).
    // PQ encode: pure scan-side fold, constant per-row work (the
    // codebook stays the 16 copy-0 vectors); the filter forces code
    // evaluation, which a bare count() would prune away.
    def pqEncode(c: Int): Long = {
      val e = scaled("embeddings", "vec_id", c)
      graft.ops.Pq.encodeScan(e, graft.ops.Pq.codebookRow(e))
        .filter(element_at(col("codes"), 1) >= 0).count()
    }

    // SemDeDup: seeds are ~1/101 of ids across ALL copies, so cell
    // occupancy stays constant and the within-cell PAIR join scales
    // linearly even on this duplicated adversarial corpus. Honest
    // caveat the ratio can't show at fixture size: the scan-side argmin
    // is O(rows × seeds) — with seeds ∝ corpus that term is quadratic
    // overall, and a true 100 TB deployment bounds it with a
    // hierarchical/tree coarse quantizer over a FIXED cluster budget
    // (the k-means knob), not a corpus-proportional seed rule.
    def semanticDedup(c: Int): Long = {
      val assigned = VectorOps.l2Cells(
        scaled("embeddings", "vec_id", c), "vec_id", "embedding",
        col("vec_id") % 101 === 0)
      VectorOps.withinCellCosinePairs(assigned, "vec_id", "embedding", 0.4)
        .count()
    }

    // Hierarchical cell assignment (the SAME op ann_ivf_hier uses):
    // seed rates match the flat SemDeDup assignment's density, so the
    // 10× ratio directly shows the two-level argmin absorbing a fine-
    // centroid set that grows with the corpus — per-row work is
    // S1 + S2/S1 where the flat form pays S2.
    def hierAssign(c: Int): Long =
      VectorOps.l2CellsHier(
          scaled("embeddings", "vec_id", c), "vec_id", "embedding",
          col("vec_id") % 1009 === 0, col("vec_id") % 101 === 0)
        .filter(col("cell") >= 0).count()

    // Segment dedup (the SAME op text_segment_dedup runs): on the
    // duplicated corpus EVERY segment is shared (df ≥ copies), the
    // adversarial case — there is no pair join to explode, so cost
    // stays the two hash-keyed rollups.
    def segmentDedup(c: Int): Long =
      graft.ops.SegmentDedup(
        scaled("documents", "doc_id", c), "doc_id", "text").count()

    // round-9 session-6 additions (the SAME ops dedup_substr_spans /
    // dedup_cdc_chunks run): on the duplicated corpus every shingle /
    // chunk is cross-doc shared (df ≥ copies) — the adversarial case.
    // Both stay hash-keyed rollup + join + per-doc fold; neither has a
    // pair join to explode, so the 10× cost must stay at the keyed
    // exchanges (like segment_dedup, their grid-free siblings).
    // exec, not count(): both end in a docs-preserving left join /
    // per-doc projection, so a bare count() would let Catalyst prune
    // the island/ratio computation out of the timed plan (the Bench r9
    // toRdd lesson)
    def spanDedup(c: Int): Long =
      exec(graft.ops.SpanDedup(
        scaled("documents", "doc_id", c), "doc_id", "text"))

    def cdcChunks(c: Int): Long =
      exec(graft.ops.CdcChunks(
        scaled("documents", "doc_id", c), "doc_id", "text"))

    // Two-phase Misra-Gries heavy hitters (freq_heavy_hitters_mg's own
    // op; the timed span covers BOTH phases — the summary fold's
    // internal collect included). The duplicated corpus multiplies
    // every count by the copy factor, so the relative-threshold hitter
    // set is IDENTICAL at 10× — a fixed-output probe judged on the job
    // ratio, and the claim under test is that both phases exchange
    // only metadata (≤256 candidate summaries / keys): 10× rows may
    // cost ~10× scan and nothing more.
    def heavyHittersMg(c: Int): Long =
      exec(graft.ops.MisraGries.heavyHitters(
        scaled("documents", "doc_id", c),
        explode(graft.ops.TextHash.tokens(col("text")))))

    // round-5 training loops (the SAME ops emb_kmeans_train /
    // text_bpe_train run): the 10× ratio shows the per-round
    // checkpoint discipline holding — cost is rounds × (one corpus
    // pass + one keyed rollup), with no lineage compounding. The
    // kmeans seed set grows with the corpus (the flat-argmin caveat
    // documented at semanticDedup applies); the BPE corpus rewrite is
    // scan-side against one broadcast winner per round.
    def kmeansTrain(c: Int): Long =
      graft.ops.KmeansTrain(
        scaled("embeddings", "vec_id", c), "vec_id", "embedding",
        col("vec_id") % 101 === 0, rounds = 3).count()

    def bpeTrain(c: Int): Long =
      graft.ops.BpeTrain(
        scaled("documents", "doc_id", c), "doc_id", "text",
        rounds = 3, safePairRe = "^[a-z0-9_]+ [a-z0-9_]+$").count()

    // round-5 continuation: prefix-filtered similarity join and
    // winnowing (the SAME ops dedup_prefix_filter / dedup_winnow_pairs
    // run). The duplicated corpus is the adversarial case for BOTH —
    // every doc gains 10 exact near-dups, so true-dup clusters (where
    // candidate cost is quadratic BY DESIGN: the output is) grow 10×
    // while the prefix/positional prunes must keep everything else flat.
    def prefixFilter(c: Int): Long =
      graft.ops.PrefixFilterJoin(
        scaled("documents", "doc_id", c), "doc_id", "text").count()

    // same shared op as dedup_winnow_pairs; only the df cap scales with
    // the duplication factor (every fp's df multiplies by ~11 on the
    // duplicated corpus — cap 50 would drop every bucket and measure
    // nothing)
    def winnowPairs(c: Int): Long =
      graft.ops.Winnow.pairs(
        scaled("documents", "doc_id", c), "doc_id", "text",
        maxDf = 550).count()

    // round-6 heavies (the r5 review's uncovered three). bigram lift
    // and dq profile call the SAME shared ops as the registered
    // queries (BigramLift / QualityQueries.profileOf).
    def bigramLift(c: Int): Long =
      graft.ops.BigramLift(scaled("documents", "doc_id", c), "text")
        .count()

    def dqProfile(c: Int): Long =
      graft.queries.QualityQueries.profileOf(
        scaled("lineitem", "l_orderkey", c)).count()

    // DPP probe join over a month-partitioned fact layout: the layout
    // write is deliberately OUTSIDE the timed section (ensured at both
    // scales during warm-up) — a lake fact table is written once and
    // joined daily, so the scaling claim under test is the JOIN with
    // runtime partition pruning (reads only the ~1/3 surviving months),
    // not the one-time rewrite the registered query also measures.
    def ensureDppLayout(c: Int): String = {
      // key the cached layout by the FIXTURE DIR too: keyed by copy
      // count alone, a run against a different (or regenerated)
      // SPARK_GRAFT_SF_DIR found _SUCCESS from the previous fixture and
      // silently joined the new dim against the old fact layout —
      // mismatched data, no error, wrong ratios. Content-addressed MD5
      // tag, not String.hashCode: a 32-bit collision across dirs would
      // silently reuse the wrong layout with no error — the same
      // hazard Bucketing's catalog names guard against (ADVICE r9).
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6)
        .map(b => f"$b%02x").mkString
      val path = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_probe_dpp_${dirTag}_$c")
      if (!java.nio.file.Files.exists(path.resolve("_SUCCESS"))) {
        scaled("lineitem", "l_orderkey", c)
          .withColumn("ship_month",
            date_format(col("l_shipdate"), "yyyy-MM"))
          .write.mode("overwrite").partitionBy("ship_month")
          .parquet(path.toString)
      }
      path.toString
    }
    def dppJoin(c: Int): Long = {
      Seq(1, 10).foreach(ensureDppLayout) // no-op after warm-up
      val fact = spark.read.parquet(ensureDppLayout(c))
      val dim = Tables(spark, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
        .filter((substring(col("ship_month"), 6, 2).cast("int") +
          substring(col("ship_month"), 1, 4).cast("int")) % 3 === 0)
      fact.join(broadcast(dim.select("ship_month")), "ship_month")
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .count()
    }

    // Graph iteration kernels over the co-engagement projection (the
    // SAME GraphIter ops the registered queries run). The id-shift
    // scales USERS 10× while items stay shared, so (item, day) block
    // population grows 10× and the quadratic pairing is the adversarial
    // case — the MaxPop hub cap (200, the registered queries' value) is
    // what holds the edge expansion, exactly the claim under test.
    // The pin is released after each run — at 10× the adjacency holds
    // ~13M edge rows (the id-shift keeps ITEMS shared, so block
    // population grows 10× and the quadratic pairing expands edges
    // ~100×: the adversarial densification case, like the duplicated
    // corpus for LSH); leaking three of those across probes would
    // contaminate every later timing.
    def withCoAdj(c: Int)(f: DataFrame => Long): Long = {
      val adj = graft.ops.GraphIter.undirected(
        graft.ops.GraphIter.coEngagementEdges(
          scaled("events", "user_id", c), 200)).localCheckpoint()
      try f(adj)
      finally org.apache.spark.sql.graftbridge.Bridge
        .releaseLocalCheckpoint(adj)
    }

    def graphKcore(c: Int): Long =
      withCoAdj(c)(adj => graft.ops.GraphIter.kcoreEdges(adj, 3, 3).count())

    // round-8: degree-ordered triangle census (the SAME GraphIter op
    // graph_triangles runs). The 10× user-shift densifies the shared-
    // item projection ~100× in edges — the adversarial case for the
    // (deg, id) orientation's m^1.5 wedge bound. "rows" here is the
    // TRIANGLE COUNT (the census's work unit — a denser graph has
    // combinatorially more triangles to enumerate, ~1227× measured),
    // so adj_ratio is the per-triangle cost ratio: the number that
    // must stay ≤1 for the bound to be holding. Measured (the run
    // committed in scale_probe.json): raw 131.7× against 1227× more
    // triangles → adj 0.107.
    def graphTriangles(c: Int): Long = {
      val e = graft.ops.GraphIter.coEngagementEdges(
        scaled("events", "user_id", c), 200).localCheckpoint()
      try graft.ops.GraphIter.triangleCount(e)
        .collect().head.getLong(0)
      finally org.apache.spark.sql.graftbridge.Bridge
        .releaseLocalCheckpoint(e)
    }

    def graphLpa(c: Int): Long =
      withCoAdj(c)(adj => graft.ops.GraphIter.labelProp(adj, 3).count())

    // round-12: Luby MIS, 3 synchronous rounds on the same densified
    // projection — per-round cost is two semi-joins + a grouped MIN
    // on a SHRINKING undecided set (the lpa/kcore cost class; the
    // wedge-volume arms cover two_hop_reach, whose bound is the same
    // Σ deg² the triangles arm measures). "rows" = decided nodes.
    def graphMis(c: Int): Long =
      withCoAdj(c)(adj => graft.ops.GraphIter.lubyMis(adj, 3)
        .filter(col("st") =!= "und").count())

    // round-9: the as-of join under an adversarial hot-key feed — 90%
    // of events collapse onto ONE symbol (the join_skew_aqe shape,
    // applied to the reference's own workload: per-symbol market data
    // where hot symbols are the norm, main.rs:87-88). Both forms run
    // the SAME ops the registered queries use. The plain form's
    // running-carry window serializes the hot symbol into one task at
    // any scale; the salted form (asof_salted_quote_trade) spreads it
    // over (key, time-bucket) partitions — the probe's paired sec_10x
    // is the measured evidence, and the salted arm's adj_ratio is the
    // round-9 gate (≤1.5).
    def hotQuotesTrades(c: Int): (DataFrame, DataFrame) = {
      val e = scaled("events", "user_id", c)
        .withColumn("user_id",
          when(col("user_id") % 10 < 9, lit(1L)).otherwise(col("user_id")))
      val quotes = graft.ops.LwwDedup(
          e.filter(col("event_type") === "view"),
          Seq(col("user_id"), col("ts")), Seq(col("event_id")))
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("q_us"), col("value").as("qprice"))
      val trades = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").as("tprice"))
      (quotes, trades)
    }
    def asofHotkeySalted(c: Int): Long = {
      val (q, t) = hotQuotesTrades(c)
      exec(graft.ops.AsofJoin.salted(t, q, "user_id", "ts",
        Seq("q_us", "qprice"), numBuckets = 32))
    }
    def asofHotkeyPlain(c: Int): Long = {
      val (q, t) = hotQuotesTrades(c)
      exec(graft.ops.AsofJoin(t, q, "user_id", "ts",
        Seq("q_us", "qprice")))
    }

    // round-9: CumVol under the same adversarial hot-key feed — the
    // r8 scale audit's SECOND hot-key window (per-(symbol, day)
    // running cumulative on a hot day). Plain serializes the hot
    // symbol-day into one task; salted fans it across (key, day,
    // intra-day bucket) with per-bucket offset injection. Same ops as
    // tick_cumvol / tick_cumvol_salted.
    def hotTicks(c: Int): DataFrame =
      scaled("events", "user_id", c)
        .withColumn("user_id",
          when(col("user_id") % 10 < 9, lit(1L)).otherwise(col("user_id")))
    def cumvolHotkeyPlain(c: Int): Long =
      exec(CumVol(hotTicks(c), col("user_id"), col("ts"), col("event_id"),
          col("event_type"), floor(col("value")).cast("int"),
          buyMark = "purchase", sellMark = "click"))
    def cumvolHotkeySalted(c: Int): Long =
      exec(CumVol.salted(hotTicks(c), col("user_id"), col("ts"),
          col("event_id"), col("event_type"),
          floor(col("value")).cast("int"),
          buyMark = "purchase", sellMark = "click", numBuckets = 32))

    // round-9 additions: the two new corpus-scale pipelines, measured
    // on the registered queries' OWN code paths (shared helpers).
    // lm_bits: occurrences 10×, bigram-TYPE stats table ~constant —
    // the occurrence↔stats join must scale with occurrences, never
    // types². cdc_apply: keys 10×, ops/key constant — argmax rollups
    // must keep shuffle O(distinct keys).
    def lmBits(c: Int): Long =
      exec(graft.queries.TextQueries.lmBits(
        scaled("documents", "doc_id", c)))
    def cdcApply(c: Int): Long =
      exec(graft.queries.ScaleQueries.cdcSnapshot(
        scaled("events", "user_id", c)))

    // round-9 continuation: the session's two new corpus-scale
    // queries, on their registered code paths. basket_rules: baskets
    // 10× with basket sizes constant (the id-shift scales l_orderkey,
    // never basket width), so the capped pair self-join must scale
    // with baskets — output is the fixed top-50, making this a
    // fixed-output probe judged on the JOB ratio. emb_drift: rows per
    // (label, grp, dim) cell grow 10×, state stays the 1,280-cell
    // rollup and output the fixed 10 labels — map-side partials must
    // absorb the growth.
    def basketRules(c: Int): Long =
      exec(graft.queries.RelationalQueries.basketRules(
        scaled("lineitem", "l_orderkey", c)))
    def embDrift(c: Int): Long =
      exec(graft.queries.VectorQueries.driftMmd(
        scaled("embeddings", "vec_id", c)))
    // fixed-output (k = 8 rows): judged on the JOB ratio — k corpus
    // scans whose per-row fold cost is constant, so job time should
    // track rows ~linearly while wall carries the k·TakeOrdered floor
    def kcenterInit(c: Int): Long =
      exec(graft.ops.KcenterInit(
        scaled("embeddings", "vec_id", c), "vec_id", "embedding", 8))
    // near-fixed output (hub rows grow with the user copies, item rows
    // constant): per-round edge⋈score joins + map-side-combined sums
    def graphHits(c: Int): Long = {
      val ev = scaled("events", "user_id", c)
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
      val pedges = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("src"), (col("k") + 100000L).as("dst"))
        .distinct()
      // Hits returns one caller-owned checkpointed frame; the probe
      // rebuilds per arm, so release it here rather than accumulate
      val r = graft.ops.Hits(pedges, 3)
      val n = exec(r)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(r)
      n
    }

    // round-10: k-pivot fixed-point betweenness on the two-layer
    // purchase/click graph. Users ×c with ITEMS SHARED across copies,
    // so each pivot's level-2 frontier (users-via-items) grows
    // ~linearly with copies — forward trees, backward joins, and
    // output all grow together; every stage is keyed (pivot, node).
    def betweenness(c: Int): Long = {
      val ev = scaled("events", "user_id", c)
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("src"), (col("k") + 100000L).as("dst"))
        .distinct()
      val cl = ev.filter(col("event_type") === "click")
        .select((col("k") + 100000L).as("src"), col("user_id").as("dst"))
        .distinct()
      // caller-owned checkpoint: release after the probe run
      val r = graft.ops.Betweenness(p.union(cl), 8, 3)
      val n = exec(r)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(r)
      n
    }

    // round-10: weighted SSSP (4 Bellman-Ford rounds) on the same
    // two-layer graph — seeds stay the copy-0 users, but shared items
    // fan the relaxation out to all copies' users, so frontier and
    // output grow ~linearly with copies; per-round cost is one
    // node-keyed join + grouped MIN.
    def ssspWeighted(c: Int): Long = {
      val ev = scaled("events", "user_id", c)
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("src"), (col("k") + 100000L).as("dst"))
        .distinct()
      val cl = ev.filter(col("event_type") === "click")
        .select((col("k") + 100000L).as("src"), col("user_id").as("dst"))
        .distinct()
      val adjW = p.union(cl).select(col("src"), col("dst"),
        (lit(1L) + pmod(col("src") + col("dst"), lit(7L))).as("w"))
      val seeds = adjW.select(col("src").as("node")).distinct()
        .filter(col("node") < 5)
        .withColumn("dist", lit(0L))
      exec(graft.ops.GraphIter.ssspRelax(adjW, seeds, 4))
    }

    // round-10: HyperBall neighborhood function — nodes ×~c (users
    // scale, items shared), per-round cost O(E · live registers);
    // output grows with nodes × (rounds+1). Healthy = job ~ rows.
    def hyperball(c: Int): Long = {
      val ev = scaled("events", "user_id", c)
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("src"), (col("k") + 100000L).as("dst"))
        .distinct()
      val cl = ev.filter(col("event_type") === "click")
        .select((col("k") + 100000L).as("src"), col("user_id").as("dst"))
        .distinct()
      // caller-owned checkpoint: release after the probe run
      val r = graft.ops.HyperBall(p.union(cl), 3)
      val n = exec(r)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(r)
      n
    }

    // round-13 (VERDICT r12 task #3): two-hop reach, exact vs sketch,
    // on the SAME densifying bipartite graph — users ×c with a shared
    // (sliced) catalog, so per-user co-purchaser reach grows ~×c and
    // the exact arm's (u, w) distinct exchange grows ~×c² while the
    // sketch's register exchange is bounded at ≤512 scalar rows per
    // node (~×c). The pair of arms measures the growth-term removal
    // the sketch exists for; at the registered queries' hub-capped
    // sf0.1 sizes the two are at parity (documented in GraphIter).
    def twoHopAdj(c: Int): DataFrame = {
      val ev = scaled("events", "user_id", c)
        .filter(col("event_type") === "purchase")
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k") % 5 === 0) // catalog slice bounds wedge volume
      val e = ev.select(col("user_id").as("a"),
        (col("k") + 100000L).as("b")).distinct()
      e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    }
    def twoHopExact(c: Int): Long =
      exec(graft.ops.GraphIter.twoHopReach(twoHopAdj(c)))
    def twoHopSketch(c: Int): Long =
      exec(graft.ops.GraphIter.twoHopReachSketch(twoHopAdj(c)))

    // round-9: fixed output (64 loading rows + ratio) — the corpus cost
    // is the two exact-moment scans (per-dim sums; d(d+1)/2 pair sums),
    // each reducing to ≤2080 DECIMAL cells on the exchange; the power
    // iteration itself is driver arithmetic on that bounded metadata.
    // Judged on the JOB ratio like the other fixed-output arms.
    def pcaMoments(c: Int): Long =
      exec(graft.ops.PcaPower(
        scaled("embeddings", "vec_id", c), "embedding", 64, 12))

    // round-9: deterministic walks on the SYMMETRIZED bipartite
    // purchase graph (edges grow ~linearly with the user copies —
    // unlike the densified co-projection, so the arm isolates the
    // walk plan's own scaling: 4 rounds × one join+argmin shuffle,
    // per-round cost O(E)). rows = visited nodes.
    def graphWalk(c: Int): Long = {
      val ev = scaled("events", "user_id", c)
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
      val pe = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("src"), (col("k") + 100000L).as("dst"))
        .distinct()
      val adj = pe.union(
        pe.select(col("dst").as("src"), col("src").as("dst")))
      exec(graft.ops.GraphWalk.visitCounts(adj, 4))
    }

    // Bitmap exact-distinct rollup (agg_bitmap_rollup's pipeline) on a
    // corpus whose DISTINCT-id population grows with the copies (the
    // id shift mints new partkeys, and 1e8 % 64 = 0 keeps in-word bit
    // layout identical per copy). Output stays 3 rows; per-group state
    // grows linearly with ids (that's the bitmap's honest trade) — a
    // healthy plan shows job time ~ rows, never ids².
    def bitmapRollup(c: Int): Long = {
      val leaf = scaled("lineitem", "l_partkey", c)
        .select(col("l_returnflag"), col("l_linestatus"),
          expr(graft.ops.Bits.wordOf("l_partkey")).as("w"),
          graft.ops.Bits.oneHot(col("l_partkey")).as("b"))
        .groupBy("l_returnflag", "l_linestatus", "w")
        .agg(expr("bit_or(b)").as("bits"))
      exec(leaf.groupBy("l_returnflag", "w")
        .agg(expr("bit_or(bits)").as("bits"))
        .groupBy("l_returnflag")
        .agg(sum(expr("bit_count(bits)")).as("n_distinct")))
    }

    // Log-bucket quantile sketch (agg_ddsketch_quantile's pipeline):
    // values repeat per copy so the bucket SET is constant — state and
    // output are fixed while rows grow 10×. The claim under test is
    // the one-pass shape: scan-side bucketing into a ≤ 4·64-counter
    // rollup, so 10× rows is 10× scan and an unchanged sketch merge.
    def ddsketchQuantile(c: Int): Long = {
      val bucketed = scaled("lineitem", "l_orderkey", c)
        .select(col("l_returnflag"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("v"))
        .withColumn("msb", graft.ops.Bits.floorLog2(col("v")))
        .withColumn("bucket",
          when(col("msb") >= 2,
            col("msb") * 4 +
              expr("CAST((shiftright(v, msb - 2) & 3) AS INT)"))
          .otherwise(col("v").cast("int")))
      exec(bucketed.groupBy("l_returnflag", "bucket")
        .agg(count(lit(1)).as("c")))
    }

    // SCC peel loop (graph_scc's op, un-memoized — the registered
    // query reads the pinned memo, so the UN-amortized loop cost lives
    // here): the best-next-item graph, then c disjoint id-shifted
    // copies. Structure per copy is identical, so peel and propagation
    // ROUND COUNTS stay constant while each round's node-keyed shuffle
    // grows linearly — time ~ copies is the healthy shape; super-linear
    // means rounds grew (a lineage or convergence bug).
    def graphScc(c: Int): Long = {
      val e1 = graft.ops.GraphIter
        .bestNextItemEdges(Tables(spark, dir, "events"))
        .localCheckpoint()
      val e = (0 until c).map(i => e1.select(
          (col("src") + lit(i * 100000000L)).as("src"),
          (col("dst") + lit(i * 100000000L)).as("dst")))
        .reduce(_ unionByName _)
      val labels = graft.ops.Scc(e)
      val n = exec(labels)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(labels)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(e1)
      n
    }

    // round-11 (VERDICT r10 task #4): q21's per-order sole-late-
    // shipper aggregate on ×c id-shifted lineitem⋈orders (both sides
    // shifted by the same constant, so each copy joins only itself —
    // orders and qualifying output grow ×c while per-order group
    // sizes stay constant). Healthy = job ~ rows; the rewrite's claim
    // under test is ONE orderkey shuffle absorbing the growth (the
    // old exists/not-exists shape paid three lineitem subtrees).
    def q21SoleLateArm(c: Int): Long =
      exec(graft.queries.RelationalQueries.q21SoleLate(
        scaled("lineitem", "l_orderkey", c),
        scaled("orders", "o_orderkey", c)))

    // round-11 (VERDICT r10 task #2): the FULL cold chain behind
    // graph_topo_layers — SCC (FB-Trim peel) on the ×c best-next-item
    // graph, then condensation edges, then longest-path layering, then
    // the member-count join the registered query emits. The registered
    // query reads a pinned memo (0.12s steady); this arm prices the
    // un-amortized rebuild — the one heavy family r10 left un-probed.
    // Copies are id-disjoint, so peel / trim / layering ROUND counts
    // stay constant while each round's node-keyed shuffle grows
    // linearly: healthy = job ~ copies with a near-flat floor. The
    // c-leaf union is pinned once before entering the loops (the
    // Betweenness adjP lesson — un-truncated, its subtree would be
    // re-analyzed by every round of every phase and the floor would
    // price plan analysis, not the chain).
    def topoChain(c: Int): Long = {
      import org.apache.spark.sql.graftbridge.Bridge
      val e1 = graft.ops.GraphIter
        .bestNextItemEdges(Tables(spark, dir, "events"))
        .localCheckpoint()
      val e = (0 until c).map(i => e1.select(
          (col("src") + lit(i * 100000000L)).as("src"),
          (col("dst") + lit(i * 100000000L)).as("dst")))
        .reduce(_ unionByName _).localCheckpoint()
      val labels = graft.ops.Scc(e)
      val ce = e
        .join(labels.withColumnRenamed("node", "src")
          .withColumnRenamed("scc_id", "sa"), Seq("src"))
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("scc_id", "sb"), Seq("dst"))
        .filter(col("sa") =!= col("sb"))
        .select(col("sa").as("src"), col("sb").as("dst"))
        .distinct()
      val layers = graft.ops.Scc.topoLayers(ce)
      val n = exec(labels.groupBy("scc_id")
        .agg(count(lit(1)).as("n_members"))
        .join(layers.withColumnRenamed("node", "scc_id"),
          Seq("scc_id"), "left")
        .select(col("scc_id"),
          coalesce(col("layer"), lit(0L)).as("layer"),
          col("n_members")))
      Bridge.releaseLocalCheckpoint(layers)
      Bridge.releaseLocalCheckpoint(labels)
      Bridge.releaseLocalCheckpoint(e)
      Bridge.releaseLocalCheckpoint(e1)
      n
    }

    // round-15 (VERDICT r14 task #6): the PRODUCTION streaming
    // assembly — EnvelopeSource spool → Pipelines.start (tick mode,
    // transformWithState + RocksDB) with metering (PipelineMeters +
    // the observe() stage), the dead-letter split query, and a 1-day
    // watermark ALL active — weak-scaled on era rows. stream_e2e_meters
    // certifies one fixed scenario's COUNTS; this arm certifies the
    // assembly's THROUGHPUT stays input-linear with the full
    // monitoring stack running (the observe() overhead claim,
    // previously untested at scale). Input design: rows ×c across
    // files ×c with maxFilesPerTrigger fixed, so micro-batch SIZE
    // stays constant and batch COUNT grows ×c — the shape a longer
    // ingest day actually has. 200 symbols × growing days keeps keyed
    // state bounded per batch; every 100th row is corrupt (missing
    // volume → strict-serde quarantine) and every 1000th a >4-day
    // straggler (watermark-dropped once the stream is past warm-up),
    // so all three meter paths do real per-batch work. rows = the
    // meter's on_time count (grows ~×c): adj_in ≈ 1 is the pass.
    def e2eMeters(c: Int): Long = {
      import java.nio.file.Files
      val n = 20000L * c
      val t0 = 1687176000L
      val work = Files.createTempDirectory("graft_probe_e2e")
      graft.source.SpoolWriter.deleteAtExit(work)
      val lines = spark.range(n).select(col("id"), concat(
        lit("""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "S"""),
        (col("id") % 200).cast("string"),
        lit("""", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": """),
        when(col("id") % 1000 === 999, lit(t0) - 100L * 86400L)
          .otherwise(lit(t0) + col("id") * 20).cast("string"),
        // residue 7, NOT 99: stragglers (id % 1000 == 999) must stay
        // well-formed — a row that is both corrupt and late is
        // quarantined before the watermark ever sees it
        when(col("id") % 100 === 7, lit(""", "type": """"))
          .otherwise(concat(lit(""", "volume": """),
            (col("id") % 50 + 1).cast("string"), lit(""", "type": """"))),
        when(col("id") % 2 === 0, "B").otherwise("S"),
        lit(""""}}""")).as("value"))
      val spoolDir = work.resolve("spool")
      Files.createDirectories(spoolDir)
      // era files RANGE-partitioned on id (= event time) and consumed
      // in file-name order, the runMeters construction rule: a
      // round-robin split makes every file span the whole era, so the
      // watermark advances past most of batches 2..2c and meters ~87%
      // of the 10× era as dropped (measured on the first smoke run:
      // on_time 23,639 of ~198k) — the probe would be timing mass
      // DROPPING, not the assembly. Stragglers keep their planted −100d
      // times inside their id-ordered file, so they (and only they)
      // drop once the stream is past its first watermark commit.
      val spool = graft.source.SpoolWriter.write(
        lines.repartitionByRange(4 * c, col("id"))
          .sortWithinPartitions("id").select("value"),
        spoolDir, repartitionTo = None)
      val sinkRoot = work.resolve("sink").toString
      val meters = graft.streaming.PipelineMeters.register(spark)
      val savedWm = spark.conf.getOption("spark.graft.tick.watermark")
      spark.conf.set("spark.graft.tick.watermark", "1 day")
      try {
        val env = spark.readStream
          .format(classOf[graft.source.EnvelopeSourceProvider].getName)
          .option("path", spool).option("maxFilesPerTrigger", "2").load()
        val qs = graft.streaming.Pipelines.start(env, "tick", sinkRoot,
          work.resolve("ckpt").toString)
        try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
        meters(s"graft_tick:$sinkRoot").onTime
      } finally {
        savedWm match {
          case Some(v) => spark.conf.set("spark.graft.tick.watermark", v)
          case None => spark.conf.unset("spark.graft.tick.watermark")
        }
        spark.streams.removeListener(meters)
      }
    }

    // Item-item CF (rec_item_cf's pipeline): users ×c with fixed
    // baskets and a fixed catalog — co-purchase pair volume grows
    // linearly with users (the per-BASKET quadratic term is bounded by
    // basket size, the scaladoc's claim under test), the sim matrix
    // stays items² and broadcasts. Healthy = job ~ users.
    def recItemCf(c: Int): Long = {
      val ui = scaled("events", "user_id", c)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("u"),
          get_json_object(col("props"), "$.k").cast("long").as("i"))
        .distinct().localCheckpoint()
      val sim = ui.as("a")
        .join(ui.as("b"),
          col("a.u") === col("b.u") && col("a.i") =!= col("b.i"))
        .groupBy(col("a.i").as("ia"), col("b.i").as("ib"))
        .agg(count(lit(1)).as("n"))
      val cand = ui.join(broadcast(sim), col("i") === col("ia"))
        .select(col("u"), col("ib"), col("n"))
        .join(ui.select(col("u"), col("i").as("ib")),
          Seq("u", "ib"), "left_anti")
        .groupBy("u", "ib").agg(sum(col("n")).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("score").desc, col("ib"))
      val n = exec(cand
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3))
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(ui)
      n
    }

    // Cross-source gram overlap (text_source_overlap's pipeline) on a
    // ×c duplicated corpus: the distinct (source, gram) set — and so
    // the intersection join and the output — are IDENTICAL at every c;
    // what grows is the pre-distinct scan. Healthy = job ~ rows with
    // the join term flat (fixed-output arm, judge on job ratio).
    def sourceOverlap(c: Int): Long = {
      import graft.ops.TextHash
      val bg = scaled("documents", "doc_id", c)
        .select(col("source"),
          explode(TextHash.shingleHashes(col("text"), 2)).as("bg"))
        .distinct().localCheckpoint()
      val sz = bg.groupBy("source").agg(count(lit(1)).as("n"))
      val n = exec(bg.toDF("source_a", "bg")
        .join(bg.toDF("source_b", "bg2"),
          col("bg") === col("bg2") && col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sz.toDF("source_a", "n_a")), Seq("source_a"))
        .join(broadcast(sz.toDF("source_b", "n_b")), Seq("source_b")))
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bg)
      n
    }

    // round-10 (verdict ask #6, plus the documented rule in
    // docs/SCALE.md: new operator family ⇒ probe arm in the same
    // commit). All four call the SAME helper the registered query
    // runs.
    // Precedence matrix: users ×c with the type alphabet fixed — the
    // per-user pair join is bounded by |types|² per user, so pair
    // volume grows with users while output stays the fixed types²
    // matrix. Fixed-output arm: judge on the job ratio.
    def precedence(c: Int): Long =
      exec(graft.queries.TemporalQueries.precedenceMatrix(
        scaled("events", "user_id", c)))
    // Rolling 3-day distinct (bitmap OR-frame): the id shift mints new
    // user ids (1e8 % 64 = 0 keeps in-word layout identical per copy),
    // so the DISTINCT population — and the (day × word) state grid —
    // grows ×c while days stay fixed. Healthy = job ~ ids; ids² would
    // mean the grid densification went quadratic.
    def rollingDistinct(c: Int): Long =
      exec(graft.queries.ScaleQueries.rollingDistinctBitmap(
        scaled("events", "user_id", c)))
    // Calibration deciles: rows ×c, output the fixed 10 bins — the
    // map-side partials must absorb all growth (the emb_drift shape).
    def calibBins(c: Int): Long =
      exec(graft.queries.TextQueries.calibrationBins(
        scaled("documents", "doc_id", c)))
    // LTTB downsampling: rows ×c with days/types fixed — output stays
    // the types×days pick set. The arm guards the round-10 plan fix
    // (broadcast per-type x-origin instead of a whole-type window
    // sort): a regression back to the 5-task window shows up as a
    // super-linear job ratio here.
    def lttb(c: Int): Long =
      exec(graft.queries.TemporalQueries.lttbDownsample(
        scaled("events", "event_id", c)))

    // Ordered LIGHT → HEAVY on the 10× side, deliberately: a monster
    // arm (graph_triangles pushes ~320M output rows at 10×;
    // prefix_filter/winnow tens of seconds) leaves GC and page-cache
    // pressure that inflates whatever runs NEXT — two separate full
    // runs measured asof_hotkey_plain at 3.3× clean vs 10–31× when it
    // followed the triangle arm on identical code. Heavy arms last
    // means their contamination lands on nothing.
    val probes = Seq[(String, Int => Long)](
      ("cumvol", cumvol),
      ("vec_centroids", centroids), ("pq_encode", pqEncode),
      ("semantic_dedup", semanticDedup), ("hier_assign", hierAssign),
      ("bpe_train", bpeTrain), ("bigram_lift", bigramLift),
      ("dpp_join", dppJoin), ("q21_sole_late", q21SoleLateArm),
      ("cdc_apply", cdcApply),
      ("emb_drift", embDrift), ("kcenter_init", kcenterInit),
      ("graph_hits", graphHits), ("graph_walk", graphWalk),
      ("graph_betweenness", betweenness),
      ("graph_sssp_weighted", ssspWeighted),
      ("graph_hyperball", hyperball),
      ("pca_moments", pcaMoments),
      ("bitmap_rollup", bitmapRollup),
      ("ddsketch_quantile", ddsketchQuantile),
      ("precedence_matrix", precedence),
      ("rolling_distinct_bitmap", rollingDistinct),
      ("calibration_bins", calibBins),
      ("lttb_downsample", lttb),
      ("rec_item_cf", recItemCf),
      ("source_overlap", sourceOverlap),
      ("asof_hotkey_salted", asofHotkeySalted),
      ("asof_hotkey_plain", asofHotkeyPlain),
      ("cumvol_hotkey_salted", cumvolHotkeySalted),
      ("cumvol_hotkey_plain", cumvolHotkeyPlain),
      // checkpoint-churn-heavy (many small jobs + block writes): after
      // the latency-sensitive hotkey group per the light→heavy rule
      ("graph_scc", graphScc),
      ("graph_topo_chain", topoChain),
      // streaming assembly: micro-batch-churn-heavy (2c batches, each
      // a checkpoint commit + RocksDB snapshot), so it lives in the
      // checkpoint-churn group per the light→heavy ordering rule
      ("e2e_meters", e2eMeters),
      ("heavy_hitters_mg", heavyHittersMg),
      ("segment_dedup", segmentDedup), ("span_dedup", spanDedup),
      ("cdc_chunks", cdcChunks), ("embed_lsh", embedDedup),
      ("basket_rules", basketRules), ("kmeans_train", kmeansTrain),
      ("lm_bits", lmBits), ("decontaminate", decontaminate),
      ("dq_profile", dqProfile), ("text_dedup_cc", textDedup),
      ("graph_lpa", graphLpa), ("graph_kcore", graphKcore),
      ("graph_mis", graphMis),
      // sketch BEFORE exact so the sketch never pays the exact arm's
      // distinct-exchange page-cache/GC residue (light→heavy is per
      // NEIGHBOR here: the pair shares its input build)
      ("two_hop_sketch", twoHopSketch), ("two_hop_exact", twoHopExact),
      ("winnow_pairs", winnowPairs), ("prefix_filter", prefixFilter),
      ("graph_triangles", graphTriangles))
    // optional name filter for isolation runs (the SPARK_GRAFT_ONLY
    // pattern the bench already has — including its fail-fast: a typo
    // must not silently measure zero probes and emit `{...,}` JSON)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = only.diff(probes.map(_._1).toSet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_PROBE_ONLY: unknown probes ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) probes else probes.filter(p => only(p._1))
    // High-side copy factor (default 10×; SPARK_GRAFT_PROBE_COPIES=100
    // for the occasional two-decade spot check — the artifact schema
    // keeps its *_10x key names, with `copies` recording the factor
    // actually measured, so a non-default run is self-describing and
    // never silently poses as the standard one).
    val copies = sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "10").toInt
    require(copies >= 2, s"SPARK_GRAFT_PROBE_COPIES $copies < 2")
    // warm-up at 1x (codegen/JIT), then measure 1x and the high side
    selected.foreach { case (_, f) => f(1) }
    val results = selected.map { case (name, f) =>
      val (t1, r1, j1) = time(f(1))
      val (t10, r10, j10) = time(f(copies))
      (name, t1, r1, t10, r10, t10 / t1, j1, j10)
    }
    // Two ratios per probe, because supralinear TIME and supralinear
    // OUTPUT are different diagnoses: `ratio` is raw t10/t1;
    // `adj_ratio` divides out output growth (per-output-row time
    // ratio, = ratio × rows_1x / rows_10x). A pair-generating probe
    // (prefix_filter, winnow_pairs, graph_kcore on the densified
    // projection) whose duplicated-corpus OUTPUT grows ~100×
    // legitimately shows raw ratio ≫ 10 while adj_ratio ≪ 1 — the
    // result got bigger, the per-row work got cheaper; that is a
    // cardinality fact about the adversarial input, not a plan bug. A
    // fixed-output rollup (dq_profile, bigram_lift) must be judged on
    // the raw ratio — its adj_ratio is the same number. The red flag
    // is BOTH ratios high: time outgrowing even the output.
    // job_* is the with-jobs-running span; floor_* = wall − job_* (the
    // driver residue). A fixed-output probe is judged on the JOB ratio:
    // raw 2.1× over a ~0.2s wall is meaningless if 0.15s of it is a
    // constant driver floor the 10× run pays identically.
    // adj_in (round-10, verdict ask #5): time ratio ÷ INPUT growth.
    // Every arm scales its input by exactly `copies` (the id-shifted
    // union), so adj_in = ratio / copies — 1.0 is perfectly linear in
    // input on fixed cores. This is the number to read for FIXED-OUTPUT
    // arms, where adj_ratio (÷ output growth) degenerates to the raw
    // ratio and made job-flat arms like vec_centroids read as flags.
    // An arm that ever scales its input differently must emit its own
    // factor instead of inheriting `copies`.
    // Standing per-arm adjudications, machine-readable IN-ARTIFACT
    // (round-16, VERDICT r15 tasks #2/#3: graph_triangles' output-bound
    // status lived only in round-12 NOTES prose, so a reader of the
    // probe JSON alone — and the r15 cross-coverage sentence — misread
    // its adj_in as a both-runs regression). tools/cross_cover.py
    // reads these tags and carves the arms out of its elevated-in-both
    // verdict; keep in sync with its BUILTIN_STANDING fallback map.
    //   deliberate:  two_hop_exact is the exact grounding arm for
    //     two_hop_sketch's recall — its exact-distinct shuffle cost at
    //     10x is the point, the sketch is the scale path;
    //   output_bound: graph_triangles' duplicated-corpus output grows
    //     ~1000x for 10x input (260k → ~319M triangles), so adj_in is
    //     structurally elevated and the honest metric is the
    //     per-output adj_ratio (reads ~0.1: per-row work got CHEAPER).
    val armTags: Map[String, String] = Map(
      "two_hop_exact" -> "\"deliberate\":true",
      "graph_triangles" -> "\"output_bound\":true")
    def armJson(n: String, t1: Double, r1: Long, t10: Double, r10: Long,
        ratio: Double, j1: Double, j10: Double): String = {
      val adj = ratio * (r1.max(1L).toDouble / r10.max(1L).toDouble)
      val adjIn = ratio / copies
      val (f1, f10) = (math.max(0.0, t1 - j1), math.max(0.0, t10 - j10))
      val tag = armTags.get(n).map("," + _).getOrElse("")
      f"""{"sec_1x":$t1%.2f,"rows_1x":$r1,"sec_10x":$t10%.2f,"rows_10x":$r10,"ratio":$ratio%.2f,"adj_ratio":$adj%.3f,"adj_in":$adjIn%.3f,"job_1x":$j1%.2f,"floor_1x":$f1%.2f,"job_10x":$j10%.2f,"floor_10x":$f10%.2f$tag}"""
    }
    val rendered = results.map { case (n, t1, r1, t10, r10, ratio, j1, j10) =>
      n -> armJson(n, t1, r1, t10, r10, ratio, j1, j10)
    }
    // --- in-run adjudication (round-13, VERDICT r12 task #4). For
    // three rounds the short graph arms (walk, mis, hyperball) read
    // both-high inside the FULL run — contention from whatever heavy
    // arm ran before them — and needed MANUAL solo re-runs to
    // adjudicate (hand-assembled *_solo_adjudication.json artifacts).
    // Automated here, the bench's resample discipline applied to the
    // probe: an arm whose adj_in AND adj_ratio both exceed the
    // threshold (both-high = time outgrew input AND output growth —
    // the unexplained shape; pair-expansion arms have adj_ratio ≪ 1
    // and fixed-output job-flat arms have adj_in ≈ 1, so neither
    // flags) is re-run SOLO in a fresh child JVM (clean heap/GC state,
    // same fixtures/copies/cpus, adjudication disabled in the child so
    // it cannot recurse) and BOTH readings land in one artifact under
    // `adjudication` — no hand-assembled file in r13+.
    val adjThreshold = 1.5
    // recursion guard: the child runs with ADJUDICATE=0, so a solo
    // re-run can never spawn its own grandchildren (a filtered run
    // may still adjudicate — that is also the cheap smoke path)
    val adjudicate =
      !sys.env.get("SPARK_GRAFT_PROBE_ADJUDICATE").contains("0")
    val flagged = results.filter { case (_, _, r1, _, r10, ratio, _, _) =>
      val adj = ratio * (r1.max(1L).toDouble / r10.max(1L).toDouble)
      ratio / copies > adjThreshold && adj > adjThreshold
    }.map(_._1).take(4) // bound the adjudication pass's runtime
    def soloRun(arm: String): Option[String] = {
      import scala.jdk.CollectionConverters._
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java")
        .getAbsolutePath
      // inherit the launcher's module flags + heap (tools/run.sh's
      // --add-opens set); drop -D/agent args the child doesn't need
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.filter(a =>
          a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("--enable-native-access") ||
          a.startsWith("-Xmx") || a.startsWith("-Xms") ||
          a.startsWith("-Xss") || a.startsWith("-XX")).toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.ScaleProbe")
      try {
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_PROBE_ONLY", arm)
        pb.environment().put("SPARK_GRAFT_PROBE_ADJUDICATE", "0")
        pb.environment().put("SPARK_GRAFT_SF_DIR", dir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_PROBE_COPIES", copies.toString)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val p = pb.start()
        // read on a thread: readAllBytes blocks until child EOF, so a
        // HUNG child would block the parent past any waitFor timeout
        // if read inline
        val outRef = new java.util.concurrent.atomic.AtomicReference("")
        val reader = new Thread(() =>
          try outRef.set(new String(p.getInputStream.readAllBytes(), "UTF-8"))
          catch { case _: Throwable => () })
        reader.setDaemon(true)
        reader.start()
        val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(); return None }
        reader.join(60000)
        val out = outRef.get()
        // the child's stdout ends in one weak_scaling JSON line; lift
        // the arm's object verbatim (flat object — no nested braces)
        val marker = "\"" + arm + "\":{"
        val i = out.lastIndexOf(marker)
        if (i < 0) None
        else {
          val start = i + marker.length - 1
          val end = out.indexOf('}', start)
          if (end < 0) None else Some(out.substring(start, end + 1))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[probe] solo adjudication of $arm failed: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }
    val adjudicated: Seq[(String, String)] =
      if (!adjudicate || flagged.isEmpty) Seq.empty
      else flagged.map { arm =>
        System.err.println(s"[probe] ADJUDICATING $arm (both-high in " +
          s"full run) — solo re-run in a fresh JVM")
        val fullObj = rendered.collectFirst { case (n, j) if n == arm => j }
          .getOrElse("{}")
        val soloObj = soloRun(arm).getOrElse("null")
        // state the conclusion in-artifact: a solo adj_in back under
        // the threshold means the in-run reading was CONTENTION (the
        // r11/r12 graph_walk shape); one that persists solo means the
        // growth is real — by-construction input densification or a
        // genuine plan problem, which the arm's adj_ratio and the
        // SCALE.md family note then distinguish
        val soloAdjIn = """"adj_in":([0-9.]+)""".r
          .findFirstMatchIn(soloObj).map(_.group(1).toDouble)
        val verdict = soloAdjIn match {
          case None => "solo_failed"
          case Some(v) if v <= adjThreshold => "contention"
          case Some(_) => "persists_solo"
        }
        arm -> s"""{"verdict":"$verdict","full":$fullObj,"solo":$soloObj}"""
      }
    val adjJson = adjudicated
      .map { case (n, j) => "\"" + n + "\":" + j }
      .mkString("{", ",", "}")
    val json = rendered.map { case (n, j) => "\"" + n + "\":" + j }
      .mkString(
        s"""{"metric":"weak_scaling","copies":$copies,"adj_threshold":$adjThreshold,"adjudication":$adjJson,""",
        ",", "}")
    args.headOption.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), json + "\n")
      catch { case _: Throwable => () }
    }
    println(json)
    spark.stop()
  }
}
