package graft
package queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{EsmTokenizer, TextFunctions}
import graft.operators.{AsOfJoin, Cooccurrence, CorpusStats, Curation, Dedup, EventWindows, GraphMetrics, Indexing, Multimodal, NaiveBayes, RangeJoin, Similarity, SnapshotDiff}
import graft.plans.JaroWinkler
import graft.ops.{ClassWeights, LabelEncode, Stats, StratifiedSplit}
import Shared._

/** Query-registry shard (insertion-order slice) — moved verbatim out of
  * the former SparkEntry monolith (round-7 split; the driver contract
  * `SparkEntry.queries` is unchanged, shards concatenate in order).
  */
private[graft] object Shard10 {
  val defs: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(

    // Quade test (blocked ranks, block-importance weighted): blocks =
    // nations, treatments = order priorities, value = total spend cents.
    // Within-block ranks × the block's RANGE rank give S_ij; doubling
    // (2S = Q(2r − k − 1)) keeps every term integral, and
    // F = (b−1)·ΣT²_j / (b·ΣS²_ij − ΣT²_j) is exact (numerator and
    // denominator both ≥ 0 by Cauchy–Schwarz, so div == //)
    "q578_quade_test" -> ((s, dir) => {
      val vals = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("blk"), col("o_orderpriority").as("trt"))
        .agg(sum(centsOf(col("o_totalprice"))).as("v"))
        .localCheckpoint(false)
      val inBlk = Window.partitionBy("blk")
      val r = vals
        .withColumn("rr", row_number()
          .over(Window.partitionBy("blk").orderBy("v", "trt")).cast("long"))
        .withColumn("rng", max(col("v")).over(inBlk) - min(col("v")).over(inBlk))
        .withColumn("kk", count(lit(1)).over(inBlk))
      val qw = r.select("blk", "rng").distinct()
        .withColumn("q", row_number().over(Window.orderBy("rng", "blk"))
          .cast("long"))
      val sij = r.join(broadcast(qw.select("blk", "q")), "blk")
        .withColumn("s2", col("q") * (lit(2L) * col("rr") - (col("kk") + 1)))
        .localCheckpoint(false)
      val a2 = sij.agg(sum(expr("s2 * s2").cast(dec38)).as("aa"),
        countDistinct(col("blk")).as("b"), max(col("kk")).as("k"))
      val b2 = sij.groupBy("trt").agg(sum(col("s2")).as("tj"))
        .agg(sum(expr("tj * tj").cast(dec38)).as("bb"))
      a2.crossJoin(broadcast(b2))
        .select(col("b").as("n_blocks"), col("k").as("n_treatments"),
          expr("CAST(1000 * CAST(b - 1 AS DECIMAL(38,0)) * bb" +
            " div (b * aa - bb) AS BIGINT)").as("f_milli"))
    }),

    // Hellinger affinity of each source's lang mix vs the corpus mix:
    // BC = Σ√(p·q) per source, H² = 1 − BC. Per-lang terms quantize to
    // micro via exact isqrt of 1e12·c1·c2 div (n1·ng) — double sqrt seed,
    // one Newton step, ±1 adjust (the q572 chain) — so both engines
    // replay the SAME per-term integers and their sum bit-matches
    "q579_hellinger_sources" -> ((s, dir) =>
      sourceLangGrid(s, dir)
        .withColumn("x", expr("CAST(CAST(1000000000000 AS DECIMAL(38,0))" +
          " * c1 * c2 div (CAST(n1 AS DECIMAL(38,0)) * ng) AS BIGINT)"))
        .withColumn("t0", floor(sqrt(col("x").cast("double"))).cast("long"))
        .withColumn("t1", expr(
          "CASE WHEN t0 > 0 THEN (t0 + x div t0) div 2 ELSE 0 END"))
        .withColumn("sq", expr(
          "CASE WHEN (t1 + 1) * (t1 + 1) <= x THEN t1 + 1" +
            " WHEN t1 * t1 > x THEN t1 - 1 ELSE t1 END"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"), sum(col("sq")).as("bc_micro"))
        .withColumn("h2_micro", lit(1000000L) - col("bc_micro"))
        .orderBy("source")),

    // total-variation distance of each source's lang mix vs the corpus
    // mix: TV = ½ Σ|p − q| — the common-denominator form
    // Σ|c1·ng − c2·n1| / (2·n1·ng) makes it ONE exact rational per
    // source (no per-term rounding at all, unlike the χ²/Hellinger
    // neighbors); numerator ≥ 0 so div == //
    "q580_tv_distance" -> ((s, dir) =>
      sourceLangGrid(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"), max(col("n1")).as("n_docs"),
          // widen BEFORE the product: c1·ng is doc-count², which wraps
          // LONG near ~3e9 docs — decimal(38,0) keeps it exact at 100 TB
          sum(abs(col("c1").cast(dec38) * col("ng")
            - col("c2").cast(dec38) * col("n1"))).as("sad"),
          max(col("ng")).as("ng"))
        .select(col("source"), col("n_langs"), col("n_docs"),
          expr("CAST(1000000 * sad div (2 * CAST(n_docs AS DECIMAL(38,0)) * ng)" +
            " AS BIGINT)").as("tv_micro"))
        .orderBy("source")),

    // Pearson χ² divergence of each source's lang mix from the corpus
    // mix: Σ (p−q)²/q = Σ (c1·ng − c2·n1)² / (n1²·ng·c2), per-lang
    // micro-quantized then summed (per-stratum quantization, the q572
    // discipline — deterministic on both engines; q is the GLOBAL mix so
    // every denominator is nonzero by construction)
    "q581_chi2_divergence" -> ((s, dir) =>
      sourceLangGrid(s, dir)
        // diff = c1·ng − c2·n1 wraps LONG at ~3e9 docs, and diff² can
        // exceed even decimal(38,0) at 100 TB (≤1e44). Two-stage integral
        // division keeps every intermediate ≤ 1e6·ng² ≈ 1e28 (proof:
        // |diff| ≤ n1·ng, so u = 1e6·diff div n1² ≤ 1e6·ng/n1 and
        // u·diff ≤ 1e6·ng²); quantized per stratum identically on both
        // engines, so hashes agree by construction
        .withColumn("dd", expr("CAST(c1 AS DECIMAL(38,0)) * ng" +
          " - CAST(c2 AS DECIMAL(38,0)) * n1"))
        .withColumn("term", expr(
          "CAST(CAST(1000000 * dd div (CAST(n1 AS DECIMAL(38,0)) * n1)" +
            " AS DECIMAL(38,0)) * dd" +
            " div (CAST(ng AS DECIMAL(38,0)) * c2) AS BIGINT)"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"), sum(col("term")).as("chi2_micro"))
        .orderBy("source")),

    // Good–Turing frequency-of-frequencies over word BIGRAMS (the unigram
    // vocab here is saturated — every word repeats; bigrams carry the
    // long tail GT exists for): N_r = #distinct bigrams seen exactly r
    // times, smoothed count r* = (r+1)·N_{r+1}/N_r for the 10 rarest
    // observed r (rank head, not r ≤ 10 — robust to a shifted tail; a
    // non-consecutive successor reads 0, the honest "no estimate").
    // Bigrams pair via a per-doc lead window (partitioned, scalable); the
    // GT lead runs over the BOUNDED distinct-r relation
    "q582_good_turing" -> ((s, dir) => {
      val nr = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("nw", lead(col("w"), 1)
          .over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("nw").isNotNull)
        .select(concat(col("w"), lit(" "), col("nw")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("r"))
        .groupBy("r").agg(count(lit(1)).as("n_r"))
      nr.withColumn("next_r", lead(col("r"), 1).over(Window.orderBy("r")))
        .withColumn("next_n", lead(col("n_r"), 1).over(Window.orderBy("r")))
        .withColumn("rk", row_number().over(Window.orderBy("r")))
        .filter(col("rk") <= 10)
        .select(col("r"), col("n_r"),
          when(col("next_r") === col("r") + 1,
            expr("1000 * (r + 1) * next_n div n_r")).otherwise(lit(0L))
            .as("rstar_milli"))
        .orderBy("r")
    }),

    // Goodman–Kruskal gamma between a customer's balance quartile and
    // spend quartile: concordant/discordant pair counts from the 4×4
    // contingency table (16 cells → a 256-row broadcast self-join, never
    // the n² customer pairs); deterministic ntile tie-break by custkey,
    // gamma = (C−D)/(C+D) exact in milli (both engines truncate the
    // signed quotient toward zero)
    "q583_gk_gamma" -> ((s, dir) => {
      val sp = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(centsOf(col("o_totalprice"))).as("spend"))
      val qt = Tables.customer(s, dir)
        .select(col("c_custkey"), centsOf(col("c_acctbal")).as("ab"))
        .join(sp, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("ab"), col("spend"))
        .withColumn("qa", ntile(4).over(Window.orderBy("ab", "c_custkey"))
          .cast("long"))
        .withColumn("qs", ntile(4).over(Window.orderBy("spend", "c_custkey"))
          .cast("long"))
      val cells = qt.groupBy("qa", "qs").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val other = cells.select(col("qa").as("qa2"), col("qs").as("qs2"),
        col("n").as("n2"))
      cells.crossJoin(broadcast(other))
        .agg(
          // quartile-cell count products reach the LONG edge near
          // ~4e10 customers: widen before multiplying
          sum(when(col("qa2") > col("qa") && col("qs2") > col("qs"),
            col("n").cast(dec38) * col("n2")).otherwise(lit(0).cast(dec38)))
            .as("c_pairs"),
          sum(when(col("qa2") > col("qa") && col("qs2") < col("qs"),
            col("n").cast(dec38) * col("n2")).otherwise(lit(0).cast(dec38)))
            .as("d_pairs"))
        .select(col("c_pairs").cast("long").as("concordant"),
          col("d_pairs").cast("long").as("discordant"),
          expr("CAST(1000 * (c_pairs - d_pairs) div (c_pairs + d_pairs)" +
            " AS BIGINT)").as("gamma_milli"))
    }),

    // Nelson–Aalen cumulative hazard over customer lifetimes (q572's
    // risk-set machinery, estimator instead of test): H(t) = Σ_{tᵢ≤t}
    // dᵢ/nᵢ with nᵢ the reverse-cumulative risk set — per-event micro
    // quantization then a running sum, both windows over the BOUNDED
    // distinct-lifetime relation
    "q584_nelson_aalen" -> ((s, dir) => {
      val life = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(datediff(max(col("o_orderdate")), min(col("o_orderdate")))
          .cast("long").as("t"))
      val et = life.groupBy("t").agg(count(lit(1)).as("d"))
      val after = Window.orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val upTo = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      et.withColumn("n_risk", sum(col("d")).over(after))
        .withColumn("term", expr("1000000 * d div n_risk"))
        .withColumn("na_micro", sum(col("term")).over(upTo))
        .select(col("t"), col("d"), col("n_risk"), col("na_micro"))
        .orderBy("t")
    }),

    // Chow structural-break test on daily mean order value at the pinned
    // 1998-04-01 break: F = ((SSR_pooled − SSR₁ − SSR₂)/k) /
    // ((SSR₁+SSR₂)/(n−2k)), k = 2 — all three SSRs from the exact
    // closed form (no per-row residuals), milli scale cancels in the
    // ratio. Numerator ≥ 0 (pooled SSR dominates the split fits)
    "q585_chow_test" -> ((s, dir) => {
      val rows = dailyMeanSpend(s, dir).localCheckpoint(false)
      val break_ = datediff(to_date(lit("1998-04-01")),
        to_date(lit("1995-01-01")))
      val seg = olsSsrMilli(rows, when(col("x") < break_, 1L).otherwise(2L))
      val pool = olsSsrMilli(rows, lit(0L))
        .select(col("n").as("n_days"), col("ssr").as("ssrp"))
      seg.agg(
          min(when(col("g") === 1, col("n"))).as("n_pre"),
          min(when(col("g") === 2, col("n"))).as("n_post"),
          min(when(col("g") === 1, col("ssr"))).as("ssr1"),
          min(when(col("g") === 2, col("ssr"))).as("ssr2"))
        .crossJoin(broadcast(pool))
        .select(col("n_days"), col("n_pre"), col("n_post"),
          col("ssrp").as("ssr_pooled"),
          expr("CAST(1000 * CAST(ssrp - ssr1 - ssr2 AS DECIMAL(38,0))" +
            " * (n_days - 4) div (2 * CAST(ssr1 + ssr2 AS DECIMAL(38,0)))" +
            " AS BIGINT)").as("f_milli"))
    }),

    // Goldfeld–Quandt heteroskedasticity test on the same daily-mean
    // regression: fit OLS separately on the first and last x-tercile
    // (middle third dropped, the classic design) and ratio the
    // df-adjusted SSRs — variance growing with x shows as GQ ≫ 1. Exact
    // rational; tercile by deterministic ntile over unique days
    "q586_goldfeld_quandt" -> ((s, dir) => {
      val rows = dailyMeanSpend(s, dir)
        .withColumn("trc", ntile(3).over(Window.orderBy("x")).cast("long"))
        .filter(col("trc") =!= 2)
      olsSsrMilli(rows, col("trc"))
        .agg(
          min(when(col("g") === 1, col("n"))).as("n_low"),
          min(when(col("g") === 3, col("n"))).as("n_high"),
          min(when(col("g") === 1, col("ssr"))).as("ssr_low"),
          min(when(col("g") === 3, col("ssr"))).as("ssr_high"))
        .select(col("n_low"), col("n_high"), col("ssr_low"),
          col("ssr_high"),
          expr("CAST(1000 * CAST(ssr_high AS DECIMAL(38,0))" +
            " * (n_low - 2) div (CAST(ssr_low AS DECIMAL(38,0))" +
            " * (n_high - 2)) AS BIGINT)").as("gq_milli"))
    }),

    // Murphy/Brier decomposition of a segment-rate urgency forecast:
    // p(segment) = URGENT rate in the pre-1998 train window (ppm),
    // evaluated on the 1998+ test window — reliability (calibration
    // drift), resolution (discrimination), uncertainty (base-rate
    // entropy), each Σ n_k(·)²/(n·1e6) over the 5 forecast bins, all
    // integer ppm/micro arithmetic
    "q587_brier_decomposition" -> ((s, dir) => {
      val seg = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      val o = Tables.orders(s, dir)
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("sg"),
          (col("o_orderpriority") === "1-URGENT").cast("long").as("yy"),
          (col("o_orderdate") < to_date(lit("1998-01-01"))).as("is_train"))
        .localCheckpoint(false)
      val p = o.filter(col("is_train"))
        .groupBy("sg")
        .agg(expr("1000000 * sum(yy) div count(1)").as("p_ppm"))
      val k = o.filter(!col("is_train"))
        .groupBy("sg")
        .agg(count(lit(1)).as("nk"), sum(col("yy")).as("uk"))
        .withColumn("o_ppm", expr("1000000 * uk div nk"))
        .join(broadcast(p), "sg")
      val tot = k.agg(sum(col("nk")).as("n"), sum(col("uk")).as("u"))
        .withColumn("obar", expr("1000000 * u div n"))
      k.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_test"), max(col("obar")).as("obar"),
          sum(expr("nk * CAST(p_ppm - o_ppm AS DECIMAL(38,0))" +
            " * (p_ppm - o_ppm)")).as("srel"),
          sum(expr("nk * CAST(o_ppm - obar AS DECIMAL(38,0))" +
            " * (o_ppm - obar)")).as("sres"))
        .select(col("n_test"),
          expr("CAST(srel div (CAST(n_test AS DECIMAL(38,0)) * 1000000)" +
            " AS BIGINT)").as("rel_micro"),
          expr("CAST(sres div (CAST(n_test AS DECIMAL(38,0)) * 1000000)" +
            " AS BIGINT)").as("res_micro"),
          expr("obar * (1000000 - obar) div 1000000").as("unc_micro"))
    }),

    // Lorenz curve in deciles over per-customer spend: cumulative spend
    // share (ppm) at each population decile — the curve q204's Gini
    // integrates; deterministic ntile, running sum over the 10-row
    // decile relation only
    "q588_lorenz_deciles" -> ((s, dir) => {
      val sp = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(centsOf(col("o_totalprice"))).as("v"))
        .withColumn("dec", ntile(10).over(Window.orderBy("v", "o_custkey"))
          .cast("long"))
      sp.groupBy("dec")
        .agg(count(lit(1)).as("n_cust"), sum(col("v")).as("sv"))
        .withColumn("cum", sum(col("sv")).over(Window.orderBy("dec")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum(col("sv")).over(Window.partitionBy()))
        .select(col("dec").as("decile"), col("n_cust"),
          expr("CAST(1000000 * CAST(cum AS DECIMAL(38,0)) div tot" +
            " AS BIGINT)").as("cum_share_ppm"))
        .orderBy("decile")
    }),

    // discounted customer-lifetime value per segment: yearly revenue
    // discounted at 10%/yr with PINNED 0.9^k milli constants (k ≤ 6, the
    // data's year span) — no pow(), so both engines replay the same
    // integers; the ppm gap between nominal and discounted reads as
    // revenue-recency: segments earning late lose more
    "q589_clv_discounted" -> ((s, dir) => {
      val dk = "CASE yk WHEN 0 THEN 1000 WHEN 1 THEN 900 WHEN 2 THEN 810" +
        " WHEN 3 THEN 729 WHEN 4 THEN 656 WHEN 5 THEN 590 ELSE 531 END"
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          (year(col("o_orderdate")) - 1995).cast("long").as("yk"),
          centsOf(col("o_totalprice")).as("v"))
        .withColumn("dv", expr(s"v * ($dk) div 1000"))
        .groupBy("segment")
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          sum(col("v")).as("nominal_cents"),
          sum(col("dv")).as("clv_cents"))
        .withColumn("discount_loss_ppm", expr(
          "CAST(1000000 * CAST(nominal_cents - clv_cents AS DECIMAL(38,0))" +
            " div nominal_cents AS BIGINT)"))
        .orderBy("segment")
    }),

    // nation trade-graph eccentricity: undirected edge where a supplier
    // nation ↔ customer nation pair's revenue exceeds the PAIR MEAN
    // (thins the near-complete graph without a median window), then four
    // fixed min-plus relaxation rounds — enough for these diameters, and
    // a shape the oracle mirrors as a plain CTE chain instead of a
    // recursive fixpoint. The heavy work is ONE lineitem⋈orders join;
    // the graph itself is bounded by |nation|²
    "q590_eccentricity" -> ((s, dir) => {
      val ed = nationTradeEdges(s, dir).localCheckpoint(false)
      val nodes = ed.select(col("a").as("n")).distinct()
      val d0 = nodes.select(col("n").as("src"), col("n").as("dst"),
        lit(0L).as("d"))
        .union(ed.select(col("a").as("src"), col("b").as("dst"),
          lit(1L).as("d")))
      def relax(d: DataFrame): DataFrame = {
        val ext = d.join(ed.select(col("a").as("dst"), col("b").as("nx")),
            "dst")
          .select(col("src"), col("nx").as("dst"), (col("d") + 1).as("d"))
        d.union(ext).groupBy("src", "dst").agg(min(col("d")).as("d"))
          .localCheckpoint(false)
      }
      val dist = relax(relax(relax(relax(d0))))
      dist.groupBy("src")
        .agg(count(lit(1)).as("n_reached"), max(col("d")).as("ecc"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("src") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_reached"), col("ecc"))
        .orderBy("nation")
    }),

    // leveled-LSM write-amplification planner per source: levels from a
    // pinned 4 MiB memtable and size ratio 10 (CASE ladder over powers —
    // no logarithms), WA ≈ 1 + T·(L−1), read-amp = L — which sources'
    // corpora would sit deep in the tree and what ingest costs (the
    // q369/q397 storage-planning family, compaction view)
    "q591_lsm_write_amp" -> ((s, dir) => {
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("text")).cast("long")).as("bytes"))
        .withColumn("levels", expr(
          "CASE WHEN bytes <= 4194304 THEN 1" +
            " WHEN bytes <= 41943040 THEN 2" +
            " WHEN bytes <= 419430400 THEN 3" +
            " WHEN bytes <= 4194304000 THEN 4" +
            " WHEN bytes <= 41943040000 THEN 5" +
            " WHEN bytes <= 419430400000 THEN 6 ELSE 7 END"))
        .select(col("source"), col("n_docs"), col("bytes"),
          col("levels").cast("long").as("levels"),
          expr("CAST(1 + 10 * (levels - 1) AS BIGINT)").as("write_amp"),
          col("levels").cast("long").as("read_amp"))
        .orderBy("source")
    }),

    // Matthews correlation of the q587 segment-rate urgency classifier
    // (predict URGENT where the segment's train rate beats the global
    // train rate): confusion counts on the test window, MCC denominator
    // via the exact isqrt chain over the decimal product — mcc in milli,
    // signed quotient truncates toward zero on both engines
    "q592_mcc" -> ((s, dir) => {
      val seg = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      val o = Tables.orders(s, dir)
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("sg"),
          (col("o_orderpriority") === "1-URGENT").cast("long").as("yy"),
          (col("o_orderdate") < to_date(lit("1998-01-01"))).as("is_train"))
        .localCheckpoint(false)
      val tr = o.filter(col("is_train"))
      val p = tr.groupBy("sg")
        .agg(sum(col("yy")).as("uk"), count(lit(1)).as("nk"))
      val gl = tr.agg(sum(col("yy")).as("ug"), count(lit(1)).as("ng"))
      val pred = p.crossJoin(broadcast(gl))
        .select(col("sg"),
          expr("CAST(CASE WHEN uk * ng > ug * nk THEN 1 ELSE 0 END" +
            " AS BIGINT)").as("ph"))
      val cm = o.filter(!col("is_train"))
        .join(broadcast(pred), "sg")
        .agg(sum(expr("CASE WHEN ph = 1 AND yy = 1 THEN 1 ELSE 0 END"))
            .as("tp"),
          sum(expr("CASE WHEN ph = 1 AND yy = 0 THEN 1 ELSE 0 END")).as("fp"),
          sum(expr("CASE WHEN ph = 0 AND yy = 0 THEN 1 ELSE 0 END")).as("tn"),
          sum(expr("CASE WHEN ph = 0 AND yy = 1 THEN 1 ELSE 0 END")).as("fn"))
      cm.withColumn("d2", expr(
          "CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn) * (tn + fp) * (tn + fn)"))
        .withColumn("t0", floor(sqrt(col("d2").cast("double"))).cast(dec38))
        .withColumn("t1", expr(
          "CASE WHEN t0 > 0 THEN (t0 + d2 div t0) div 2 ELSE CAST(0 AS DECIMAL(38,0)) END"))
        .withColumn("sq", expr(
          "CASE WHEN (t1 + 1) * (t1 + 1) <= d2 THEN t1 + 1" +
            " WHEN t1 * t1 > d2 THEN t1 - 1 ELSE t1 END"))
        .select(col("tp"), col("fp"), col("tn"), col("fn"),
          expr("CAST(1000 * (CAST(tp AS DECIMAL(38,0)) * tn" +
            " - CAST(fp AS DECIMAL(38,0)) * fn) div sq AS BIGINT)")
            .as("mcc_milli"))
    }),

    // average precision (PR-AUC proxy) of account balance predicting a
    // top-quartile spender: AP = mean over positives of P@k down the
    // ranked list — P@k micro-quantized per cut (deterministic), both
    // cumsum windows over the BOUNDED per-customer relation
    "q593_average_precision" -> ((s, dir) => {
      val sp = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(centsOf(col("o_totalprice"))).as("spend"))
      val scored = Tables.customer(s, dir)
        .select(col("c_custkey"), centsOf(col("c_acctbal")).as("ab"))
        .join(sp, col("c_custkey") === col("o_custkey"))
        .withColumn("rel",
          (ntile(4).over(Window.orderBy("spend", "c_custkey")) === 4)
            .cast("long"))
        .withColumn("k", row_number()
          .over(Window.orderBy(col("ab").desc, col("c_custkey"))).cast("long"))
        .withColumn("tp", sum(col("rel")).over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      scored.agg(count(lit(1)).as("n"), sum(col("rel")).as("n_pos"),
          sum(when(col("rel") === 1, expr("1000000 * tp div k"))
            .otherwise(0L)).as("sump"))
        .select(col("n"), col("n_pos"),
          expr("sump div n_pos").as("ap_micro"))
    }),

    // Theil–Sen robust slope of monthly revenue: the median of all
    // pairwise slopes — insensitive to the outlier months OLS chases.
    // The month relation is BOUNDED (~80 rows), so the pair join is a
    // few-thousand-row broadcast product, never corpus-scale; slopes
    // micro-quantized (signed div truncates the same both engines),
    // median = mean of the two middle ranks (q570's m2 idiom)
    "q594_theil_sen" -> ((s, dir) => {
      val m = Tables.orders(s, dir)
        .groupBy(((year(col("o_orderdate")) - 1995) * 12
          + month(col("o_orderdate")) - 1).cast("long").as("mo"))
        .agg(sum(centsOf(col("o_totalprice"))).as("rev"))
        .localCheckpoint(false)
      val pairs = m.crossJoin(broadcast(
          m.select(col("mo").as("mo2"), col("rev").as("rev2"))))
        .filter(col("mo") < col("mo2"))
        // 1e6 × a monthly-revenue delta grows with SF — widen to
        // decimal(38,0) so the product can't wrap LONG at large scale
        // (div on decimals still yields BIGINT, matching the oracle)
        .select(expr("1000000 * CAST(rev2 - rev AS DECIMAL(38,0))" +
            " div (mo2 - mo)").as("sl"),
          col("mo"), col("mo2"))
      pairs
        .withColumn("rk", row_number()
          .over(Window.orderBy("sl", "mo", "mo2")))
        .withColumn("np", count(lit(1)).over(Window.partitionBy()))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("rk") === expr("(np + 1) div 2"), col("sl"))).as("lo"),
          sum(when(col("rk") === expr("(np + 2) div 2"), col("sl"))).as("hi"))
        .select(col("n_pairs"),
          expr("(lo + hi) div 2").as("theil_sen_micro"))
    }),

    // distinct-n diversity per source: unique-unigram and unique-bigram
    // ratios over the source's whole token stream (the corpus-diversity
    // readout generation-eval calls distinct-1/distinct-2). Bigrams pair
    // via the per-doc lead window (q582's shape); distincts are exact
    "q595_distinct_n" -> ((s, dir) => {
      val w = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val uni = w.groupBy("source")
        .agg(count(lit(1)).as("n_uni"), countDistinct(col("w")).as("d_uni"))
      val bi = w.withColumn("nw", lead(col("w"), 1)
          .over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("nw").isNotNull)
        .select(col("source"), concat(col("w"), lit(" "), col("nw")).as("b"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bi"), countDistinct(col("b")).as("d_bi"))
      uni.join(bi, Seq("source"))
        .select(col("source"), col("n_uni"), col("d_uni"),
          expr("1000000 * d_uni div n_uni").as("distinct1_ppm"),
          col("n_bi"), col("d_bi"),
          expr("1000000 * d_bi div n_bi").as("distinct2_ppm"))
        .orderBy("source")
    }),

    // T5 span-corruption batch planner: per doc, mask budget = 15% of
    // tokens (half-away rounding), mean span 3 → sentinel count; encoder
    // keeps n−mask+spans tokens, decoder emits mask+spans+1 — the
    // sequence-length ledger that sizes a denoising pretraining batch,
    // rolled up per source with the sentinel overhead in ppm
    "q596_span_corruption" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .withColumn("nm", expr("(nt * 15 + 50) div 100"))
        .withColumn("ns", expr(
          "CASE WHEN nm = 0 THEN 0 ELSE greatest(1, (nm + 1) div 3) END"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("raw_tokens"),
          sum(expr("nt - nm + ns")).as("encoder_tokens"),
          sum(expr("nm + ns + 1")).as("decoder_tokens"))
        .withColumn("overhead_ppm", expr(
          "1000000 * (encoder_tokens + decoder_tokens - raw_tokens)" +
            " div raw_tokens"))
        .orderBy("source")),

    // actuarial life table over customer lifetimes in 30-day bands:
    // deaths, risk set at band start (reverse cumsum), interval death
    // probability qx, and survival lx as the EMPIRICAL risk-set share —
    // with no censoring in this data the product-limit and empirical
    // forms coincide, so no running product is needed (q584's sibling)
    "q597_life_table" -> ((s, dir) => {
      val life = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(datediff(max(col("o_orderdate")), min(col("o_orderdate")))
          .cast("long").as("t"))
      val bands = life.groupBy(expr("t div 30").as("band"))
        .agg(count(lit(1)).as("d"))
      val after = Window.orderBy("band")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      bands.withColumn("n_risk", sum(col("d")).over(after))
        .withColumn("total", sum(col("d")).over(Window.partitionBy()))
        .select(col("band"), col("d"), col("n_risk"),
          expr("1000000 * d div n_risk").as("qx_micro"),
          expr("1000000 * n_risk div total").as("lx_ppm"))
        .orderBy("band")
    }),

    // shard rebalancing plan: docs hash into 16 shards (q410's md5
    // uniform); the balanced target is ⌈n/16⌉ for (n mod 16) shards and
    // ⌊n/16⌋ for the rest, caps assigned to the LARGEST shards first
    // (min-move matching, deterministic by (count desc, shard)); moves =
    // Σ max(0, count − cap) — the exact migration volume a rebalance
    // would ship
    "q598_shard_rebalance" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(Dedup.md5Long(concat(lit("shard#"),
          col("doc_id").cast("string")), 12).as("h"))
        .groupBy(expr("h % 16").as("shard"))
        .agg(count(lit(1)).as("cnt"))
      sh.withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("cnt").desc, col("shard"))).cast("long"))
        .withColumn("cap", expr(
          "CASE WHEN rk <= n % 16 THEN n div 16 + 1 ELSE n div 16 END"))
        .agg(max(col("n")).as("n_docs"), count(lit(1)).as("n_shards"),
          max(col("cnt")).as("max_shard"), min(col("cnt")).as("min_shard"),
          sum(greatest(col("cnt") - col("cap"), lit(0L))).as("moves"))
        .withColumn("moves_ppm", expr("1000000 * moves div n_docs"))
    }),

    // decision-stump Gini audit: which single feature (market segment vs
    // customer nation) splits URGENT orders best — weighted post-split
    // Gini Σ_v 2·u_v(n_v−u_v)/(n_v·n) vs the root impurity, per-value
    // micro quantization (q572 discipline); the feature-selection readout
    // a tree/GBM pipeline derives its first split from
    "q599_split_gini" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("string").as("nat"),
          (col("o_orderpriority") === "1-URGENT").cast("long").as("yy"))
        .localCheckpoint(false)
      val tot = o.agg(count(lit(1)).as("n"), sum(col("yy")).as("u"))
      def forFeature(fcol: String, fname: String): DataFrame =
        o.groupBy(col(fcol).as("v"))
          .agg(count(lit(1)).as("nv"), sum(col("yy")).as("uv"))
          .crossJoin(broadcast(tot))
          .withColumn("term", expr(
            "CAST(2000000 * CAST(uv AS DECIMAL(38,0)) * (nv - uv)" +
              " div (CAST(nv AS DECIMAL(38,0)) * n) AS BIGINT)"))
          .agg(count(lit(1)).as("n_values"),
            sum(col("term")).as("split_gini_micro"),
            max(expr("CAST(2000000 * CAST(u AS DECIMAL(38,0)) * (n - u)" +
              " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
              .as("root_gini_micro"))
          .select(lit(fname).as("feature"), col("n_values"),
            col("root_gini_micro"), col("split_gini_micro"),
            (col("root_gini_micro") - col("split_gini_micro"))
              .as("gain_micro"))
      forFeature("seg", "mktsegment").unionByName(forFeature("nat", "nation"))
        .orderBy("feature")
    }),

    // centroid silhouette of the IVF bucketing (q549/q550's third lens):
    // per vector, a² = squared distance to the OWN centroid, b² = to the
    // nearest OTHER — s = (b²−a²)/max(a²,b²) in micro, the squared-
    // distance silhouette variant that needs no sqrt and no pair scan
    // (8 broadcast centroids per vector, never vector×vector)
    "q600_silhouette" -> ((s, dir) => {
      val qv = Similarity.assignBuckets(
          Tables.embeddings(s, dir), "vec_id", "embedding", 8)
        .select(col("vid").as("vec_id"), col("bucket"),
          posexplode(col("emb_d").cast("array<double>")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("bucket"), col("pos"),
          round(col("x") * 1000000, 0).cast("long").as("qv"))
        .localCheckpoint(false)
      val cent = qv.groupBy("bucket", "pos")
        .agg(expr("sum(qv) div count(1)").as("cq"))
        .select(col("bucket").as("cb"), col("pos"), col("cq"))
      val d2 = qv.join(broadcast(cent), "pos")
        .groupBy("vec_id", "bucket", "cb")
        .agg(sum(expr("(qv - cq) * (qv - cq)")).as("d2"))
      val ab = d2.groupBy("vec_id", "bucket")
        .agg(min(when(col("cb") === col("bucket"), col("d2"))).as("a2"),
          min(when(col("cb") =!= col("bucket"), col("d2"))).as("b2"))
        .filter(greatest(col("a2"), col("b2")) > 0)
        .withColumn("sm", expr(
          "1000000 * (b2 - a2) div greatest(a2, b2)"))
      ab.groupBy("bucket")
        .agg(count(lit(1)).as("n_vectors"),
          expr("sum(sm) div count(1)").as("mean_sil_micro"))
        .orderBy("bucket")
    }),

    // synchronous label propagation on the thinned nation trade graph:
    // four fixed rounds of "adopt the modal neighbor label" (self vote
    // included; ties → smallest label) — the cheap community detector
    // beside q264's modularity readout. Fixed rounds keep the oracle a
    // plain CTE chain; labels are node ids so the output is reproducible
    "q601_label_propagation" -> ((s, dir) => {
      val ed = nationTradeEdges(s, dir).localCheckpoint(false)
      var l = ed.select(col("a").as("n")).distinct()
        .select(col("n"), col("n").as("lbl"))
      for (_ <- 1 to 4) {
        val votes = ed.join(l.select(col("n").as("b2"), col("lbl")),
            col("b") === col("b2"))
          .select(col("a").as("n"), col("lbl"))
          .union(l)
          .groupBy("n", "lbl").agg(count(lit(1)).as("c"))
        l = votes.groupBy("n")
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("n"), (-col("m.nl")).as("lbl"))
          .localCheckpoint(false)
      }
      l.groupBy(col("lbl").cast("long").as("community"))
        .agg(count(lit(1)).as("size"))
        .orderBy("community")
    }),

    // region mixing assortativity: the directed supplier-region →
    // customer-region revenue matrix, Newman's attribute assortativity
    // r = (Σe_ii − Σa_i·b_i)/(1 − Σa_i·b_i) as ONE exact rational over
    // the common denominator W² — does trade stay within regions (r > 0)
    // or cross them. The matrix is |region|², built from one fact pass
    "q602_region_mixing" -> ((s, dir) => {
      val natReg = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))
      val w = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(natReg.select(col("n_nationkey").as("sn"),
          col("n_regionkey").as("ri"))), col("s_nationkey") === col("sn"))
        .join(broadcast(natReg.select(col("n_nationkey").as("cn"),
          col("n_regionkey").as("rj"))), col("c_nationkey") === col("cn"))
        .groupBy("ri", "rj")
        .agg(sum(centsOf(col("l_extendedprice"))).as("w"))
        .localCheckpoint(false)
      val rs = w.groupBy("ri").agg(sum(col("w")).as("rw"))
      val cs = w.groupBy("rj").agg(sum(col("w")).as("cw"))
      val sprod = rs.join(cs, col("ri") === col("rj"))
        .agg(sum(expr("CAST(rw AS DECIMAL(38,0)) * cw")).as("sprod"))
      w.agg(sum(col("w").cast(dec38)).as("tw"),
          sum(when(col("ri") === col("rj"), col("w")).otherwise(0L))
            .as("diag"))
        .crossJoin(broadcast(sprod))
        .select(col("tw").cast("long").as("total_cents"),
          col("diag").as("intra_cents"),
          expr("CAST(1000 * (tw * CAST(diag AS DECIMAL(38,0)) - sprod)" +
            " div (tw * tw - sprod) AS BIGINT)").as("assort_milli"))
    }),

    // bond-percolation sweep on the weighted nation trade graph: keep the
    // top (4−k)/4 of edges by revenue RANK (k = 1..3 — value thresholds
    // would tie-break unpredictably), exact connected components per
    // threshold, and the giant-component share of all nations — where
    // the trade network fragments as weak links drop
    "q603_percolation_sweep" -> ((s, dir) => {
      // the three threshold sweeps are INDEPENDENT CC runs over an
      // eagerly-materialized ranked edge relation — run them as three
      // concurrent driver threads (guide §2.6: overlap independent jobs
      // so one sweep's convergence tail back-fills the others' rounds;
      // r12 bench 3.9 s sequential). Each sweep's result is assembled
      // in its own slot, so the combined output is order-deterministic.
      val rev = nationTradeRev(s, dir)
        .withColumn("rk", row_number().over(Window.orderBy("w", "a", "b"))
          .cast("long"))
        .withColumn("np", count(lit(1)).over(Window.partitionBy()))
        .localCheckpoint() // eager: shared by all three sweep threads
      val nNations = Tables.nation(s, dir).count()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val parts =
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((1 to 3).map { k =>
            scala.concurrent.Future {
              val edges = rev.filter(expr(s"rk > $k * np div 4")).select("a", "b")
              val nEdges = edges.count()
              graft.operators.ConnectedComponents.labels(edges, "a", "b")
                .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
                .agg(count(lit(1)).as("n_components"),
                  sum(col("sz")).as("n_connected"), max(col("sz")).as("giant"))
                .select(lit(k.toLong).as("quartile"), lit(nEdges).as("n_edges"),
                  col("n_components"), col("n_connected"),
                  col("giant").as("giant_size"),
                  expr(s"1000000 * giant div ${nNations}L").as("giant_frac_ppm"))
            }
          }), scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      parts.reduce(_.unionByName(_)).orderBy("quartile")
    }),

    // Borda rank aggregation: each market segment "votes" a brand ranking
    // by its revenue (deterministic rank), top-10 get points 10..1; the
    // aggregate ranking is the consensus preference — ordinal vote fusion
    // beside q541's cardinal Bradley–Terry. One fact pass; everything
    // downstream is |segment|·|brand| rows
    "q604_borda_brands" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("p_brand").as("brand"))
        .agg(sum(centsOf(col("l_extendedprice"))).as("rev"))
      rev.withColumn("rk", row_number().over(Window.partitionBy("seg")
          .orderBy(col("rev").desc, col("brand"))).cast("long"))
        .withColumn("pts", greatest(lit(11L) - col("rk"), lit(0L)))
        .groupBy("brand")
        .agg(sum(col("pts")).as("borda_points"),
          sum(when(col("rk") <= 10, 1L).otherwise(0L)).as("n_ballots"))
        .filter(col("borda_points") > 0)
        .orderBy(col("borda_points").desc, col("brand"))
    }),

    // MAUVE-proxy: per embedding LABEL, the Jensen–Shannon divergence
    // between the label's IVF-bucket histogram and the global one — the
    // cluster-histogram divergence MAUVE builds its curve from, over the
    // exact 8-bucket assignment. Per-bucket pinned-ln micro terms (q573
    // discipline) over a zero-filled label×bucket grid
    "q605_mauve_proxy" -> ((s, dir) => {
      val asg = Similarity.assignBuckets(
          Tables.embeddings(s, dir), "vec_id", "embedding", 8)
        .select(col("vid").as("vec_id"), col("bucket"))
        .join(Tables.embeddings(s, dir).filter(col("label").isNotNull)
          .select(col("vec_id").as("vid2"), col("label")),
          col("vec_id") === col("vid2"))
        .select(col("label").cast("long").as("label"), col("bucket"))
        .localCheckpoint(false)
      val c = asg.groupBy("label", "bucket").agg(count(lit(1)).as("craw"))
      val nl = c.groupBy("label").agg(sum(col("craw")).as("n"))
      val g = c.groupBy("bucket").agg(sum(col("craw")).as("gc"))
      val ng = c.agg(sum(col("craw")).as("ntot"))
      val grid = nl.crossJoin(broadcast(g)).crossJoin(broadcast(ng))
        .join(c, Seq("label", "bucket"), "left")
        .select(col("label"), col("bucket"),
          coalesce(col("craw"), lit(0L)).as("c"),
          col("n"), col("gc"), col("ntot"))
      grid
        .withColumn("t1", expr(
          "CASE WHEN c = 0 THEN 0 ELSE c * CAST(round(ln(" +
            "CAST(2 * c * ntot AS DOUBLE) / (c * ntot + gc * n)) * 1000000)" +
            " AS BIGINT) div n END"))
        .withColumn("t2", expr(
          "gc * CAST(round(ln(CAST(2 * gc * n AS DOUBLE)" +
            " / (c * ntot + gc * n)) * 1000000) AS BIGINT) div ntot"))
        .groupBy("label")
        .agg(max(col("n")).as("n_vecs"),
          expr("(sum(t1) + sum(t2)) div 2").as("jsd_micro"))
        .orderBy("label")
    }),

    // Hopkins clusterability statistic: m = 64 md5-chosen corpus vectors'
    // nearest-neighbor distances (W) vs 64 md5-synthesized uniform points
    // in the per-dim quantized bounding box (U); H = ΣU/(ΣU+ΣW) → 1 when
    // the corpus clusters, ½ when it's itself uniform. Everything is
    // bounded m·|N| squared-distance pairs — exact integers, and the
    // pseudo-uniform refs replay from md5 on both engines
    "q606_hopkins" -> ((s, dir) => {
      val qv = Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("x") * 1000000, 0).cast("long").as("qv"))
        .localCheckpoint(false)
      val ids = qv.select("vec_id").distinct()
        .withColumn("h", Dedup.md5Long(concat(lit("hop#"),
          col("vec_id").cast("string")), 12))
        .withColumn("rk", row_number().over(Window.orderBy("h", "vec_id")))
        .filter(col("rk") <= 64)
        .select(col("vec_id").as("sid"))
      val sampleQ = qv.join(broadcast(ids), col("vec_id") === col("sid"))
        .select(col("sid"), col("pos"), col("qv").as("sq"))
      val w = sampleQ.join(qv.withColumnRenamed("vec_id", "oid"), "pos")
        .filter(col("oid") =!= col("sid"))
        .groupBy("sid", "oid")
        .agg(sum(expr("(sq - qv) * (sq - qv)")).as("d2"))
        .groupBy("sid").agg(min(col("d2")).as("nn2"))
        .agg(sum(col("nn2")).as("sum_w"), count(lit(1)).as("m"))
      val dims = qv.groupBy("pos")
        .agg(min(col("qv")).as("lo"), max(col("qv")).as("hi"))
      val refs = s.range(64).toDF("r")
        .crossJoin(broadcast(dims))
        .select(col("r"), col("pos"),
          (col("lo") + Dedup.md5Long(concat(lit("hopu#"),
            col("r").cast("string"), lit("#"), col("pos").cast("string")), 12)
            % (col("hi") - col("lo") + 1)).as("uq"))
      val u = refs.join(qv, "pos")
        .groupBy("r", "vec_id")
        .agg(sum(expr("(uq - qv) * (uq - qv)")).as("d2"))
        .groupBy("r").agg(min(col("d2")).as("nn2"))
        .agg(sum(col("nn2")).as("sum_u"))
      w.crossJoin(broadcast(u))
        .select(col("m"), col("sum_u"), col("sum_w"),
          expr("CAST(1000000 * CAST(sum_u AS DECIMAL(38,0))" +
            " div (CAST(sum_u AS DECIMAL(38,0)) + sum_w) AS BIGINT)")
            .as("hopkins_micro"))
    }),

    // order-backlog aging at the data's horizon: non-finished orders
    // bucketed by 180-day age bands (capped at 5) per status — the
    // open-work ledger an ops review reads; cutoff = max order date so
    // the query is reproducible at any SF
    "q607_backlog_aging" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("cutoff", max(col("o_orderdate"))
          .over(Window.partitionBy()))
        .filter(col("o_orderstatus") =!= "F")
        .select(col("o_orderstatus").as("status"),
          datediff(col("cutoff"), col("o_orderdate")).cast("long").as("age"),
          centsOf(col("o_totalprice")).as("v"))
        .groupBy(col("status"), least(expr("age div 180"), lit(5L)).as("band"))
        .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("value_cents"))
        .orderBy("status", "band")),

    // autoscaling headroom: hourly event arrival rates → mean, exact-rank
    // p95 hour, replicas at 1000 events/hour capacity (ceil), and the
    // burst ratio — the capacity-planning readout beside q513's queueing
    // delay. The hour relation is bounded by the time span, never |events|
    "q608_autoscaling" -> ((s, dir) => {
      val hours = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      hours
        .withColumn("rk", row_number().over(Window.orderBy("cnt", "h"))
          .cast("long"))
        .withColumn("nh", count(lit(1)).over(Window.partitionBy()))
        .agg(max(col("nh")).as("n_hours"),
          expr("sum(cnt) div count(1)").as("mean_per_hour"),
          max(when(col("rk") === expr("(19 * nh + 19) div 20"), col("cnt")))
            .as("p95_per_hour"))
        .select(col("n_hours"), col("mean_per_hour"), col("p95_per_hour"),
          expr("(p95_per_hour + 999) div 1000").as("replicas"),
          expr("1000000 * p95_per_hour div mean_per_hour")
            .as("burst_ratio_ppm"))
    }),

    // content-defined chunking audit (Rabin-style): a cut lands wherever
    // the 8-char window hash ≡ 0 (mod 64) — chunk boundaries survive
    // insertions, unlike q97's fixed offsets, which is WHY dedup stores
    // chunk this way. Per source: measured cut density vs the 1/64
    // design point and the resulting mean chunk length. Position scan is
    // one explode, O(total chars), no window
    "q609_cdc_chunking" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"))
        .localCheckpoint(false)
      val cuts = base.filter(col("len") >= 8)
        .select(col("source"),
          explode(expr("sequence(1, len - 7)")).as("i"), col("text"))
        .select(col("source"),
          (Dedup.md5Long(expr("substring(text, i, 8)"), 12) % 64 === 0)
            .cast("long").as("isCut"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_positions"), sum(col("isCut")).as("n_cuts"))
      base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
        .join(cuts, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_chars"), col("n_cuts"),
          expr("n_chars div (n_cuts + n_docs)").as("mean_chunk_len"),
          expr("1000000 * n_cuts div n_positions").as("cut_rate_ppm"))
        .orderBy("source")
    }),

    // cross-source near-dup contamination matrix: q21's MinHash/LSH
    // candidate pairs rolled up by (source, source) — which corpora leak
    // into each other (the off-diagonal mass is what decontamination
    // actually has to move). Reuses the flagship band-join verbatim;
    // the roll-up is two broadcast dim joins on the candidate relation
    "q610_cross_source_dups" -> ((s, dir) => {
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
      val cand = Dedup.minhashCandidates(
        Tables.documents(s, dir), "doc_id", "text")
      cand
        .join(broadcast(src.select(col("doc_id").as("doc_a"),
          col("source").as("sa"))), "doc_a")
        .join(broadcast(src.select(col("doc_id").as("doc_b"),
          col("source").as("sb"))), "doc_b")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // encoding/index advisor over the order columns: per column, NDV,
    // runs in o_orderkey order (unique key — deterministic lag), and the
    // pinned rule ladder (long runs + tiny NDV → RLE; small NDV → dict;
    // huge NDV → minmax zone maps only). ONE scan via stack(), runs from
    // a per-column lag window — the storage-layout recommendation the
    // q591/q369 planners consume
    "q611_index_advisor" -> ((s, dir) => {
      val melted = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("stack(4, 'o_custkey', CAST(o_custkey AS STRING)," +
            " 'o_orderdate', CAST(o_orderdate AS STRING)," +
            " 'o_orderpriority', o_orderpriority," +
            " 'o_orderstatus', o_orderstatus)")
            .as(Seq("colname", "val")))
      val byKey = Window.partitionBy("colname").orderBy("o_orderkey")
      melted
        .withColumn("chg",
          when(col("val") === lag(col("val"), 1).over(byKey), 0L)
            .otherwise(1L))
        .groupBy("colname")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("val")).as("ndv"), sum(col("chg")).as("runs"))
        .withColumn("avg_run_len", expr("n_rows div runs"))
        .withColumn("advice", expr(
          "CASE WHEN ndv <= 16 AND avg_run_len >= 4 THEN 'rle'" +
            " WHEN ndv <= 1024 THEN 'dict'" +
            " WHEN ndv * 10 >= n_rows THEN 'minmax'" +
            " ELSE 'bloom' END"))
        .orderBy("colname")
    }),

    // Benford SECOND-digit test on order totals (cents): the forensic
    // refinement that survives unit changes better than the leading
    // digit; expected ppm per digit are the PINNED Σ log10(1 + 1/(10a+d))
    // constants, so no logarithm runs in-query and the χ² contribution
    // per digit is pure integer arithmetic
    "q612_benford_second" -> ((s, dir) => {
      val exp = "CASE d2 WHEN 0 THEN 119679 WHEN 1 THEN 113890" +
        " WHEN 2 THEN 108821 WHEN 3 THEN 104330 WHEN 4 THEN 100308" +
        " WHEN 5 THEN 96677 WHEN 6 THEN 93375 WHEN 7 THEN 90352" +
        " WHEN 8 THEN 87570 ELSE 84997 END"
      Tables.orders(s, dir)
        .select(centsOf(col("o_totalprice")).as("v"))
        .filter(col("v") >= 10)
        .select(expr("CAST(substring(CAST(v AS STRING), 2, 1) AS BIGINT)")
          .as("d2"))
        .groupBy("d2").agg(count(lit(1)).as("n_obs"))
        .withColumn("n", sum(col("n_obs")).over(Window.partitionBy()))
        .select(col("d2").as("digit"), col("n_obs"),
          expr("1000000 * n_obs div n").as("obs_ppm"),
          expr(s"CAST($exp AS BIGINT)").as("exp_ppm"),
          expr(s"1000000 * n_obs div n - ($exp)").as("dev_ppm"))
        .orderBy("digit")
    }),

    // winner's-curse audit (regression to the mean): the top spend-decile
    // of the FIRST half-window keeps only part of its lead in the second
    // — their H2/H1 ppm ratio vs everyone's; the gap is the shrinkage a
    // naive "reward last period's winners" policy ignores (q-EB
    // shrinkage's empirical cousin)
    "q613_winners_curse" -> ((s, dir) => {
      val h = Tables.orders(s, dir)
        .select(col("o_custkey"),
          (col("o_orderdate") < to_date(lit("1998-07-01"))).as("h1"),
          centsOf(col("o_totalprice")).as("v"))
        .groupBy("o_custkey")
        .agg(sum(when(col("h1"), col("v")).otherwise(0L)).as("s1"),
          sum(when(!col("h1"), col("v")).otherwise(0L)).as("s2"))
        .filter(col("s1") > 0)
      val t = h.withColumn("dec",
        ntile(10).over(Window.orderBy("s1", "o_custkey")))
      t.agg(
          sum(when(col("dec") === 10, 1L).otherwise(0L)).as("n_top"),
          sum(when(col("dec") === 10, col("s1")).otherwise(0L)).as("top_h1"),
          sum(when(col("dec") === 10, col("s2")).otherwise(0L)).as("top_h2"),
          sum(col("s1")).as("all_h1"), sum(col("s2")).as("all_h2"))
        .select(col("n_top"), col("top_h1"), col("top_h2"),
          expr("CAST(1000000 * CAST(top_h2 AS DECIMAL(38,0)) div top_h1" +
            " AS BIGINT)").as("top_ratio_ppm"),
          expr("CAST(1000000 * CAST(all_h2 AS DECIMAL(38,0)) div all_h1" +
            " AS BIGINT)").as("all_ratio_ppm"),
          expr("CAST(1000000 * CAST(all_h2 AS DECIMAL(38,0)) div all_h1" +
            " - 1000000 * CAST(top_h2 AS DECIMAL(38,0)) div top_h1" +
            " AS BIGINT)").as("regression_gap_ppm"))
    }),

    // scalar-quantization sweep for the embedding store: 4/6/8-bit
    // per-dim codes in the exact bounding box, half-away integer
    // round-trip, exact squared reconstruction error — the bits-vs-MSE
    // curve that picks an SQ width before committing an index (q?PQ
    // audit's scalar sibling). One pass; the ×3 width fan-out is a
    // map-side explode
    "q614_sq_sweep" -> ((s, dir) => {
      val qv = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "xx")))
        .select(col("pos").cast("long").as("pos"),
          round(col("xx") * 1000000, 0).cast("long").as("x"))
      val dims = qv.groupBy("pos")
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      qv.join(broadcast(dims), "pos")
        .select(col("x"), col("lo"), (col("hi") - col("lo")).as("span"))
        .withColumn("b", explode(array(lit(4L), lit(6L), lit(8L))))
        .withColumn("lv", expr(
          "CASE b WHEN 4 THEN 15 WHEN 6 THEN 63 ELSE 255 END"))
        .withColumn("code", expr("CASE WHEN span = 0 THEN 0" +
          " ELSE ((x - lo) * lv + span div 2) div span END"))
        .withColumn("recon", expr(
          "lo + (code * span + lv div 2) div lv"))
        .withColumn("err", expr("(x - recon) * (x - recon)"))
        .groupBy("b")
        .agg(count(lit(1)).as("n_vals"),
          sum(col("err").cast(dec38)).as("se"))
        .select(col("b").as("bits"), col("n_vals"),
          expr("CAST(se div n_vals AS BIGINT)").as("mse_per_val"),
          expr("1000000 * b div 32").as("size_vs_f32_ppm"))
        .orderBy("bits")
    }),

    // Dobrushin ergodicity coefficient of the event-type Markov chain:
    // δ = ½ max over state pairs of the TV distance between their
    // outgoing rows — δ < 1 certifies geometric mixing, and the arg-max
    // pair names the two states that disagree most about what follows.
    // Exact rational on the common n_i·n_i' denominator over the
    // zero-filled |states|² grid; transitions from ONE lead window
    "q615_dobrushin" -> ((s, dir) => {
      // event_id is the arrival-order key: ordering by raw ts would
      // tie-break differently across engines after the µs truncation
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1)
          .over(Window.partitionBy("user_id").orderBy("event_id")))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val states = tr.select(col("cur").as("st")).distinct()
      val rows_ = tr.groupBy("cur").agg(sum(col("c")).as("n"))
      val grid = rows_.crossJoin(broadcast(states))
        .join(tr.withColumnRenamed("nxt", "st"), Seq("cur", "st"), "left")
        .select(col("cur"), col("st"),
          coalesce(col("c"), lit(0L)).as("c"), col("n"))
      val pair = grid.as("x")
        .join(grid.withColumnRenamed("cur", "cur2")
          .withColumnRenamed("c", "c2").withColumnRenamed("n", "n2").as("y"),
          Seq("st"))
        .filter(col("cur") < col("cur2"))
        .groupBy(col("cur").as("state_a"), col("cur2").as("state_b"))
        .agg(max(col("n")).as("n1"), max(col("n2")).as("n2"),
          // transition-count products wrap LONG past ~3e9 events/state
          sum(abs(col("c").cast(dec38) * col("n2")
            - col("c2").cast(dec38) * col("n"))).as("sad"))
        .select(col("state_a"), col("state_b"),
          expr("CAST(1000000 * sad div (2 * CAST(n1 AS DECIMAL(38,0)) * n2)" +
            " AS BIGINT)").as("tv_ppm"))
      val nTot = tr.agg(sum(col("c")).as("n_transitions"),
        countDistinct(col("cur")).as("n_states"))
      pair.orderBy(col("tv_ppm").desc, col("state_a"), col("state_b"))
        .limit(1)
        .crossJoin(broadcast(nTot))
        .select(col("n_states"), col("n_transitions"),
          col("state_a"), col("state_b"),
          col("tv_ppm").as("dobrushin_ppm"))
    }),

    // 0-order character entropy per source (nats, micro): H = ln n −
    // (Σ c·ln c)/n over the bounded character alphabet — the
    // byte-level signal that separates prose from markup/code where
    // the word-level entropies can't (q?entropy-rate's char sibling).
    // Pinned-ln per count (q573 discipline); the char explode is one
    // O(total chars) pass
    "q616_char_entropy" -> ((s, dir) => {
      val ch = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("text"),
          length(col("text")).cast("long").as("len"))
        .filter(col("len") > 0)
        .select(col("source"), explode(expr("sequence(1, len)")).as("i"),
          col("text"))
        .select(col("source"), expr("substring(text, i, 1)").as("ch"))
        .groupBy("source", "ch").agg(count(lit(1)).as("c"))
      ch.groupBy("source")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct_chars"),
          sum(expr("c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)" +
            " AS BIGINT)")).as("scl"))
        .select(col("source"), col("n").as("n_chars"),
          col("n_distinct_chars"),
          expr("CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)" +
            " - scl div n").as("entropy_micro"))
        .orderBy("source")
    }),

    // price-ending forensics: the cents-mod-100 distribution of order
    // totals — psychological pricing (.99) or rounding artifacts show
    // as mass away from the uniform 1% line; top-10 endings with their
    // ppm deviation (Benford's retail cousin, q612's neighbor)
    "q617_price_endings" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select((centsOf(col("o_totalprice")) % 100).as("ending"))
        .groupBy("ending").agg(count(lit(1)).as("n_obs"))
        .withColumn("n", sum(col("n_obs")).over(Window.partitionBy()))
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("n_obs").desc, col("ending"))))
        .filter(col("rk") <= 10)
        .select(col("ending"), col("n_obs"),
          expr("1000000 * n_obs div n").as("obs_ppm"),
          expr("1000000 * n_obs div n - 10000").as("dev_ppm"))
        .orderBy(col("n_obs").desc, col("ending"))),

    // two-sample Kolmogorov–Smirnov: D = max |F₁ − F₂| between
    // AUTOMOBILE customers' spend distribution and everyone else's —
    // exact on the common n₁·n₂ denominator at every distinct value
    // (ties accumulate correctly because the grid is per-VALUE), with
    // the √(n₁n₂/(n₁+n₂)) scaling via the exact isqrt chain
    "q618_ks_two_sample" -> ((s, dir) => {
      val sp = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").cast("long").as("g1"))
        .agg(sum(centsOf(col("o_totalprice"))).as("v"))
      val byV = sp.groupBy("v")
        .agg(sum(col("g1")).as("d1"), sum(lit(1L) - col("g1")).as("d2"))
      val upTo = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV
        .withColumn("c1", sum(col("d1")).over(upTo))
        .withColumn("c2", sum(col("d2")).over(upTo))
        .withColumn("n1", sum(col("d1")).over(Window.partitionBy()))
        .withColumn("n2", sum(col("d2")).over(Window.partitionBy()))
        // c1·n2 and 1e6·n1·n2 are count² products that wrap LONG past
        // ~3e9 rows per arm — compute in decimal(38,0); the div results
        // (≤1e6 and ≤1e6·min(n1,n2)) still land in LONG
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(expr("1000000 * abs(CAST(c1 AS DECIMAL(38,0)) * n2" +
            " - CAST(c2 AS DECIMAL(38,0)) * n1)" +
            " div (CAST(n1 AS DECIMAL(38,0)) * n2)")).as("d_ppm"))
        .withColumn("x", expr(
          "1000000 * CAST(n1 AS DECIMAL(38,0)) * n2 div (n1 + n2)"))
        .withColumn("t0", floor(sqrt(col("x").cast("double"))).cast("long"))
        .withColumn("t1", expr(
          "CASE WHEN t0 > 0 THEN (t0 + x div t0) div 2 ELSE 0 END"))
        .withColumn("sq", expr(
          "CASE WHEN (t1 + 1) * (t1 + 1) <= x THEN t1 + 1" +
            " WHEN t1 * t1 > x THEN t1 - 1 ELSE t1 END"))
        .select(col("n1"), col("n2"), col("d_ppm"),
          expr("d_ppm * sq div 1000000").as("ks_lambda_milli"))
    }),

    // Spearman footrule distance between the revenue and the quantity
    // brand rankings: F = Σ|r₁ − r₂| normalized by its ⌊n²/2⌋ maximum —
    // the displacement metric (how far did positions MOVE) next to
    // q254's concordance view; two rank windows over the bounded brand
    // relation from one fact pass
    "q619_footrule" -> ((s, dir) => {
      val b = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(centsOf(col("l_extendedprice"))).as("rev"),
          sum(col("l_quantity").cast("long")).as("qty"))
      b.withColumn("r1", row_number()
          .over(Window.orderBy(col("rev").desc, col("brand"))).cast("long"))
        .withColumn("r2", row_number()
          .over(Window.orderBy(col("qty").desc, col("brand"))).cast("long"))
        .agg(count(lit(1)).as("n_brands"),
          sum(abs(col("r1") - col("r2"))).as("footrule_sum"))
        .select(col("n_brands"), col("footrule_sum"),
          expr("1000000 * footrule_sum div (n_brands * n_brands div 2)")
            .as("footrule_ppm"))
    }),

    // German tank estimator: from k = 200 md5-sampled orders, estimate
    // the maximum order key as m̂ = m + m/k − 1 (the serial-number MVU
    // estimator) and audit it against the true max — the classic
    // estimate-population-from-a-sample drill, useful as a key-space
    // probe when scanning the full table is off-budget
    "q620_german_tank" -> ((s, dir) => {
      val sample = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          Dedup.md5Long(concat(lit("tank#"),
            col("o_orderkey").cast("string")), 12).as("h"))
        .withColumn("rk", row_number().over(Window.orderBy("h", "o_orderkey")))
        .filter(col("rk") <= 200)
        .agg(count(lit(1)).as("k"), max(col("o_orderkey")).as("max_seen"))
      val truth = Tables.orders(s, dir)
        .agg(max(col("o_orderkey")).as("true_max"))
      sample.crossJoin(broadcast(truth))
        .select(col("k"), col("max_seen"),
          expr("max_seen + max_seen div k - 1").as("estimate"),
          col("true_max"),
          expr("1000000 * (max_seen + max_seen div k - 1 - true_max)" +
            " div true_max").as("err_ppm"))
    }),

    // Chao1 richness estimator over per-source word BIGRAMS (unigrams
    // saturate here — q582's reasoning): Ŝ = S + F₁(F₁−1)/(2(F₂+1)),
    // the bias-corrected form that reads how much unseen vocabulary the
    // singleton/doubleton head implies — the "how much is left" twin of
    // Good–Turing's unseen mass
    "q621_chao1" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("nw", lead(col("w"), 1)
          .over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("nw").isNotNull)
        .groupBy(col("source"), concat(col("w"), lit(" "), col("nw")).as("b"))
        .agg(count(lit(1)).as("c"))
      bg.groupBy("source")
        .agg(count(lit(1)).as("s_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("s_obs"), col("f1"), col("f2"),
          expr("s_obs + f1 * (f1 - 1) div (2 * (f2 + 1))").as("chao1"))
        .orderBy("source")
    }),

    // birthday-paradox hash audit: docs hashed into 4096 md5 buckets —
    // observed colliding pairs Σ C(c,2) vs the uniform expectation
    // C(n,2)/m as ONE exact ratio; a ratio far from 1e6 ppm means the
    // hash (or the id space) is not behaving uniformly — the q598
    // rebalancer's pre-flight check
    "q622_birthday_audit" -> ((s, dir) => {
      val c = Tables.documents(s, dir)
        .select((Dedup.md5Long(concat(lit("bday#"),
          col("doc_id").cast("string")), 12) % 4096).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("c"))
      c.agg(sum(col("c")).as("n"),
          sum(expr("c * (c - 1) div 2")).as("obs_pairs"))
        .select(col("n"), lit(4096L).as("m"), col("obs_pairs"),
          expr("n * (n - 1) div 2 div 4096").as("exp_pairs"),
          expr("CAST(1000000 * CAST(obs_pairs AS DECIMAL(38,0)) * 4096" +
            " div (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2) AS BIGINT)")
            .as("ratio_ppm"))
    }),

    // fan-out tail amplification: a request touching one event of EACH
    // type is slow if ANY leg is slow (value > 15) — P(any) = 1 − Π(1−pᵢ)
    // via summed pinned micro-nat logs and ONE exp (q573's geomean
    // discipline), against the worst single leg; the "tail at scale"
    // readout for fan-out services
    "q623_fanout_tail" -> ((s, dir) => {
      val p = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 15.0, 1L).otherwise(0L)).as("slow"))
        // slow = n would make ln(0) = -inf (Spark CAST → Long.MinValue,
        // DuckDB CAST → error): pin a sentinel log-survival of ln(1e-12)
        // micro-scaled, which drives the product to ~0 on both engines
        .withColumn("l", expr(
          "CASE WHEN slow = n THEN CAST(-27631021 AS BIGINT)" +
            " ELSE CAST(round(ln(CAST(n - slow AS DOUBLE) / n) * 1000000)" +
            " AS BIGINT) END"))
        .withColumn("p_ppm", expr("1000000 * slow div n"))
      p.agg(count(lit(1)).as("n_types"), sum(col("l")).as("lsum"),
          max(col("p_ppm")).as("max_single_ppm"))
        .withColumn("surv_ppm", expr(
          "CAST(round(exp(CAST(lsum AS DOUBLE) / 1000000.0) * 1000000)" +
            " AS BIGINT)"))
        .select(col("n_types"), col("max_single_ppm"),
          (lit(1000000L) - col("surv_ppm")).as("any_slow_ppm"),
          expr("1000 * (1000000 - surv_ppm) div max_single_ppm")
            .as("amplification_milli"))
    }),

    // ROC curve at decile cuts: account balance scoring the top-quartile
    // spender label (q593's pair), one (tpr, fpr, precision) point per
    // score decile — the table a threshold choice actually reads, next
    // to the single-number AUC/AP/Youden family. Cumulative counts over
    // the 10-row decile relation only
    "q624_roc_deciles" -> ((s, dir) => {
      val sp = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(centsOf(col("o_totalprice"))).as("spend"))
      val scored = Tables.customer(s, dir)
        .select(col("c_custkey"), centsOf(col("c_acctbal")).as("ab"))
        .join(sp, col("c_custkey") === col("o_custkey"))
        .withColumn("rel",
          (ntile(4).over(Window.orderBy("spend", "c_custkey")) === 4)
            .cast("long"))
        .withColumn("dec", ntile(10)
          .over(Window.orderBy(col("ab").desc, col("c_custkey"))).cast("long"))
      val d = scored.groupBy("dec")
        .agg(sum(col("rel")).as("pos"), sum(lit(1L) - col("rel")).as("neg"))
      val upTo = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("tp", sum(col("pos")).over(upTo))
        .withColumn("fp", sum(col("neg")).over(upTo))
        .withColumn("p", sum(col("pos")).over(Window.partitionBy()))
        .withColumn("ng", sum(col("neg")).over(Window.partitionBy()))
        .select(col("dec").as("decile"),
          expr("1000000 * tp div p").as("tpr_ppm"),
          expr("1000000 * fp div ng").as("fpr_ppm"),
          expr("1000000 * tp div (tp + fp)").as("precision_ppm"))
        .orderBy("decile")
    }),

    // strongly connected components of the DIRECTED trade graph
    // (supplier nation → customer nation, above-mean pair revenue):
    // exact reach closure by path doubling (converges in ⌈log₂ diam⌉
    // driver rounds, actions on counts only — the CC-labels discipline),
    // SCC id = min mutually-reachable node. The oracle replays the
    // closure as a recursive CTE fixpoint
    "q625_scc_directed" -> ((s, dir) => {
      val d0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("s_nationkey").as("a"), col("c_nationkey").as("b"))
        .agg(sum(centsOf(col("l_extendedprice"))).as("w"))
        .filter(col("a") =!= col("b"))
        .localCheckpoint(false)
      val tot = d0.agg(sum(col("w").cast(dec38)).as("tw"),
        count(lit(1)).as("np"))
      var reach = d0.crossJoin(broadcast(tot))
        .filter(expr("CAST(w AS DECIMAL(38,0)) * np > tw"))
        .select("a", "b").localCheckpoint(false)
      var n = reach.count()
      var grown = true
      var rounds = 0
      while (grown && rounds < 6) {
        // ≤ nations² reach rows: broadcast the hop side — the shuffled
        // form nested a SortMergeJoin (2 exchanges + sorts) per round
        val nxt = reach.union(
            reach.join(broadcast(reach.select(col("a").as("m"), col("b").as("b2"))),
              col("b") === col("m"))
              .select(col("a"), col("b2").as("b")))
          .distinct().localCheckpoint(false)
        val n2 = nxt.count()
        grown = n2 > n
        n = n2
        reach = nxt
        rounds += 1
      }
      val mutual = reach
        .join(broadcast(reach.select(col("b").as("a"), col("a").as("b"))),
          Seq("a", "b"), "left_semi")
      val nodes = reach.select(col("a").as("node"))
        .union(reach.select(col("b").as("node"))).distinct()
      nodes
        .join(broadcast(mutual.select(col("a").as("node"), col("b").as("m"))),
          Seq("node"), "left")
        .groupBy("node")
        .agg(least(min(col("m")), min(col("node"))).as("scc"))
        .groupBy(col("scc").cast("long").as("scc_id"))
        .agg(count(lit(1)).as("size"))
        .orderBy("scc_id")
    }),

    // absorption reach of the event chain: P(hit 'purchase' within k
    // steps) from each state, k = 1 and 4 — the "how close is every
    // state to converting" readout; four exact ppm value-iteration
    // rounds over the bounded transition matrix (each round one join on
    // |states|² rows), event_id arrival order (q615's convention)
    "q626_absorption_reach" -> ((s, dir) => {
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1)
          .over(Window.partitionBy("user_id").orderBy("event_id")))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val rows_ = tr.groupBy("cur").agg(sum(col("c")).as("n"))
      val direct = rows_.join(
          tr.filter(col("nxt") === "purchase")
            .select(col("cur"), col("c").as("cp")), Seq("cur"), "left")
        .select(col("cur"), col("n"), coalesce(col("cp"), lit(0L)).as("cp"))
        .localCheckpoint(false)
      val cont = tr.filter(col("nxt") =!= "purchase")
      var r = direct.select(col("cur").as("st"),
        expr("1000000 * cp div n").as("rp"))
      val r1 = r
      for (_ <- 1 to 3) {
        val step = cont.join(r.withColumnRenamed("st", "nxt"), "nxt")
          .groupBy("cur").agg(sum(expr("c * rp")).as("srp"))
        r = direct.join(step, Seq("cur"), "left")
          .select(col("cur").as("st"),
            expr("(1000000 * cp + coalesce(srp, 0)) div n").as("rp"))
          .localCheckpoint(false)
      }
      direct.select(col("cur").as("st"), col("n"))
        .join(r1.select(col("st"), col("rp").as("reach1_ppm")), "st")
        .join(r.select(col("st"), col("rp").as("reach4_ppm")), "st")
        .filter(col("st") =!= "purchase")
        .select(col("st").as("state"), col("n").as("n_out"),
          col("reach1_ppm"), col("reach4_ppm"))
        .orderBy("state")
    }),

    // Gorilla timestamp-compression audit: per event type, the
    // delta-of-delta bit classes of the (µs) arrival stream — share of
    // dod = 0 (1 bit), |dod| ≤ 64 (9), ≤ 256 (12), ≤ 2048 (16), else
    // (36) — and the implied bits/timestamp vs the raw 64: the TSDB
    // encoding readout for the events table. Two lags per user stream
    "q627_gorilla_ts" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("event_id")
      val dod = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        .withColumn("d", col("t") - lag(col("t"), 1).over(byUser))
        .withColumn("dod", col("d") - lag(col("d"), 1).over(byUser))
        .filter(col("dod").isNotNull)
        .withColumn("bits", expr("CASE WHEN dod = 0 THEN 1" +
          " WHEN abs(dod) <= 64 THEN 9 WHEN abs(dod) <= 256 THEN 12" +
          " WHEN abs(dod) <= 2048 THEN 16 ELSE 36 END"))
      dod.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dod") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(col("bits").cast("long")).as("total_bits"))
        .select(col("event_type"), col("n"),
          expr("1000000 * n_zero div n").as("zero_dod_ppm"),
          expr("1000 * total_bits div n").as("bits_per_ts_milli"),
          expr("1000000 * total_bits div (64 * n)").as("vs_raw_ppm"))
        .orderBy("event_type")
    }),

    // cohort LTV payback: for each signup quarter, the months until
    // cumulative revenue reaches 2× the cohort's first month — the
    // "when does a cohort repay acquisition" curve; month index is
    // integer calendar arithmetic, cumulative over the bounded
    // (cohort × month) relation
    "q628_ltv_payback" -> ((s, dir) => {
      val first = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(min(col("o_orderdate")).as("f"))
        .select(col("o_custkey").as("ck"),
          date_trunc("quarter", col("f")).as("cohort"))
      val mrev = Tables.orders(s, dir)
        .join(first, col("o_custkey") === col("ck"))
        .groupBy(col("cohort"),
          ((year(col("o_orderdate")) - year(col("cohort"))) * 12
            + month(col("o_orderdate")) - month(col("cohort")))
            .cast("long").as("mi"))
        .agg(sum(centsOf(col("o_totalprice"))).as("rev"))
      val nc = first.groupBy("cohort")
        .agg(countDistinct(col("ck")).as("n_customers"))
      val upTo = Window.partitionBy("cohort").orderBy("mi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      mrev.withColumn("cum", sum(col("rev")).over(upTo))
        .withColumn("m0", first_value(col("rev"))
          .over(Window.partitionBy("cohort").orderBy("mi")))
        .groupBy("cohort")
        .agg(max(col("m0")).as("m0_cents"),
          min(when(col("cum") >= lit(2L) * col("m0"), col("mi")))
            .as("payback"))
        .join(broadcast(nc), "cohort")
        .select(date_format(col("cohort"), "yyyy-MM").as("cohort"),
          col("n_customers"), col("m0_cents"),
          coalesce(col("payback"), lit(-1L)).as("payback_month"))
        .orderBy("cohort")
    }),

    // request-hedging audit: per event type the exact-rank p50/p90/p99 of
    // `value`, the independence identity hedged-p99 = single-p90 (fire a
    // duplicate after p50 → both-slow probability squares), and the
    // extra-load share — the "tail at scale" hedging trade-off in one
    // table. Quantiles are VALUES FROM THE DATA (no interpolation), so
    // doubles cross engines untouched
    "q629_hedging_audit" -> ((s, dir) => {
      val byT = Window.partitionBy("event_type").orderBy("value", "event_id")
      val r = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(byT).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy("event_type")))
      r.groupBy("event_type")
        .agg(max(col("n")).as("n"),
          max(when(col("rk") === expr("(n + 1) div 2"), col("value")))
            .as("p50"),
          max(when(col("rk") === expr("(9 * n + 9) div 10"), col("value")))
            .as("p90"),
          max(when(col("rk") === expr("(99 * n + 99) div 100"), col("value")))
            .as("p99"))
        .select(col("event_type"), col("n"), col("p50"), col("p90"),
          col("p99"), col("p90").as("hedged_p99"),
          expr("1000000 * (n - (n + 1) div 2) div n").as("extra_load_ppm"))
        .orderBy("event_type")
    }),

    // histogram bin-count rules on per-customer spend: Freedman–Diaconis
    // (2·IQR/n^⅓), Scott (3.49σ/n^⅓), Sturges (1+log₂n) — the three
    // classic widths disagree exactly when the tail is heavy, which is
    // the decision this panel surfaces. n^⅓ by exact integer cbrt
    // (double seed ±1 adjust), σ by the isqrt chain, log₂ from bin()
    // length — no float in any ratio
    "q630_bin_width_rules" -> ((s, dir) => {
      val sp = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(centsOf(col("o_totalprice"))).as("v"))
      val r = sp.withColumn("rk", row_number()
          .over(Window.orderBy("v", "o_custkey")).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      r.agg(max(col("n")).as("n"), min(col("v")).as("mn"),
          max(col("v")).as("mx"),
          max(when(col("rk") === expr("(n + 3) div 4"), col("v"))).as("q1"),
          max(when(col("rk") === expr("(3 * n + 3) div 4"), col("v")))
            .as("q3"),
          sum(col("v").cast(dec38)).as("sx"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sxx"))
        .withColumn("iqr", col("q3") - col("q1"))
        .withColumn("vr", expr(
          "CAST((n * sxx - sx * sx) div (CAST(n AS DECIMAL(38,0)) * n)" +
            " AS BIGINT)"))
        .withColumn("s0", floor(sqrt(col("vr").cast("double"))).cast("long"))
        .withColumn("s1", expr(
          "CASE WHEN s0 > 0 THEN (s0 + vr div s0) div 2 ELSE 0 END"))
        .withColumn("sig", expr(
          "CASE WHEN (s1 + 1) * (s1 + 1) <= vr THEN s1 + 1" +
            " WHEN s1 * s1 > vr THEN s1 - 1 ELSE s1 END"))
        .withColumn("c0", expr(
          "CAST(round(pow(CAST(n AS DOUBLE), 0.3333333333333333)) AS BIGINT)"))
        .withColumn("cb", expr(
          "CASE WHEN (c0 + 1) * (c0 + 1) * (c0 + 1) <= n THEN c0 + 1" +
            " WHEN c0 * c0 * c0 > n THEN c0 - 1 ELSE c0 END"))
        .select(col("n"), col("iqr").as("iqr_cents"),
          col("sig").as("sigma_cents"),
          expr("(mx - mn) * cb div (2 * iqr)").as("bins_fd"),
          expr("(mx - mn) * cb * 1000 div (3490 * sig)").as("bins_scott"),
          length(expr("bin(n)")).cast("long").as("bins_sturges"))
    }),

    // log-rank hazard ratio, AUTOMOBILE vs HOUSEHOLD lifetimes: observed
    // vs expected events per arm from q572's shared risk-set pass,
    // HR = (O₁/E₁)/(O₂/E₂) — the effect-SIZE readout the q572 χ² only
    // tests; expected events per-time micro-quantized, micro cancels in
    // the ratio
    "q631_hazard_ratio" -> ((s, dir) => {
      val seg = Tables.customer(s, dir)
        .filter(col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
        .select(col("c_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").cast("long").as("g1"))
      val life = Tables.orders(s, dir)
        .join(seg, col("o_custkey") === col("c_custkey"))
        .groupBy("o_custkey", "g1")
        .agg(datediff(max(col("o_orderdate")), min(col("o_orderdate")))
          .as("t"))
      val et = life.groupBy("t")
        .agg(sum(col("g1")).as("d1"), count(lit(1)).as("d"))
      val after = Window.orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      et.withColumn("n1t", sum(col("d1")).over(after))
        .withColumn("nt", sum(col("d")).over(after))
        .agg(sum(col("d1")).as("o1"),
          sum(expr("1000000 * d * n1t div nt")).as("e1_micro"),
          sum(expr("d - d1")).as("o2"),
          sum(expr("1000000 * d * (nt - n1t) div nt")).as("e2_micro"))
        .select(col("o1"), col("e1_micro"), col("o2"), col("e2_micro"),
          expr("CAST(1000 * CAST(o1 AS DECIMAL(38,0)) * e2_micro" +
            " div (CAST(o2 AS DECIMAL(38,0)) * e1_micro) AS BIGINT)")
            .as("hr_milli"))
    }),

    // Stuart–Maxwell marginal-homogeneity test: each customer's modal
    // order status in the two half-windows forms a paired 3×3 table; did
    // the status MARGINS shift between halves? χ² from the exact 2×2
    // inverse closed form — all integer, the paired-categorical
    // counterpart of q567's CMH
    "q632_stuart_maxwell" -> ((s, dir) => {
      def modal(half: Column, name: String): DataFrame =
        Tables.orders(s, dir).filter(half)
          .groupBy("o_custkey", "o_orderstatus")
          .agg(count(lit(1)).as("c"))
          .groupBy("o_custkey")
          .agg(max(struct(col("c"),
            (-ascii(col("o_orderstatus"))).as("neg"),
            col("o_orderstatus").as("st"))).as("m"))
          .select(col("o_custkey").as(s"ck_$name"),
            col("m.st").as(s"st_$name"))
      val pairs = modal(col("o_orderdate") < to_date(lit("1998-07-01")), "a")
        .join(modal(col("o_orderdate") >= to_date(lit("1998-07-01")), "b"),
          col("ck_a") === col("ck_b"))
        .groupBy(col("st_a"), col("st_b")).agg(count(lit(1)).as("nij"))
        .localCheckpoint(false)
      val m = pairs.agg(
        sum(col("nij")).as("np"),
        sum(when(col("st_a") === "F", col("nij")).otherwise(0L)).as("r1"),
        sum(when(col("st_a") === "O", col("nij")).otherwise(0L)).as("r2"),
        sum(when(col("st_b") === "F", col("nij")).otherwise(0L)).as("c1"),
        sum(when(col("st_b") === "O", col("nij")).otherwise(0L)).as("c2"),
        sum(when(col("st_a") === "F" && col("st_b") === "F", col("nij"))
          .otherwise(0L)).as("n11"),
        sum(when(col("st_a") === "O" && col("st_b") === "O", col("nij"))
          .otherwise(0L)).as("n22"),
        sum(when(col("st_a") === "F" && col("st_b") === "O", col("nij"))
          .otherwise(0L)).as("n12"),
        sum(when(col("st_a") === "O" && col("st_b") === "F", col("nij"))
          .otherwise(0L)).as("n21"))
      m.select(col("np").as("n_pairs"),
          (col("r1") - col("c1")).as("d1"), (col("r2") - col("c2")).as("d2"),
          expr("CAST(1000 * ((r2 + c2 - 2 * n22)" +
            " * CAST(r1 - c1 AS DECIMAL(38,0)) * (r1 - c1)" +
            " + 2 * (n12 + n21) * CAST(r1 - c1 AS DECIMAL(38,0)) * (r2 - c2)" +
            " + (r1 + c1 - 2 * n11) * CAST(r2 - c2 AS DECIMAL(38,0)) * (r2 - c2))" +
            " div ((r1 + c1 - 2 * n11) * CAST(r2 + c2 - 2 * n22 AS DECIMAL(38,0))" +
            " - CAST(n12 + n21 AS DECIMAL(38,0)) * (n12 + n21)) AS BIGINT)")
            .as("chi2_milli"))
    }),

    // grace-hash-join partitioning plan: for each fact table (measured
    // rows × pinned row width) and memory budget, the partition fan-out
    // needed, recursion depth at fan-out 256, and the I/O multiplier
    // (2 passes per level + final probe) — the q591 ladder aimed at
    // join spill instead of compaction
    "q633_grace_hash_plan" -> ((s, dir) => {
      val sizes = Seq(
        ("lineitem", Tables.lineitem(s, dir), 120L),
        ("orders", Tables.orders(s, dir), 100L),
        ("customer", Tables.customer(s, dir), 180L),
        ("documents", Tables.documents(s, dir), 300L))
      val rows = sizes.map { case (name, df, w) =>
        df.agg((count(lit(1)) * w).as("bytes"))
          .select(lit(name).as("tbl"), col("bytes"))
      }.reduce(_.unionByName(_))
      rows
        .withColumn("mem", explode(array(lit(67108864L), lit(268435456L),
          lit(1073741824L))))
        .withColumn("partitions", expr(
          "CASE WHEN bytes <= mem THEN 1" +
            " ELSE (bytes * 6 div 5 + mem - 1) div mem END"))
        .withColumn("depth", expr(
          "CAST(CASE WHEN bytes <= mem THEN 0" +
            " WHEN bytes <= mem * 256 THEN 1" +
            " WHEN bytes <= mem * 65536 THEN 2 ELSE 3 END AS BIGINT)"))
        .select(col("tbl"), col("bytes"), col("mem"), col("partitions"),
          col("depth"),
          expr("2 * depth + 1").as("io_multiplier"))
        .orderBy("tbl", "mem")
    }),

    // sampled Theil–Sen — the 100 TB default next to q235's exact
    // two-pass (which stays the right call for dictionary-bounded dims
    // but materializes O(Σ n_b²) pairs: ~80 G at 100×). Here each brand
    // keeps its 64 lowest md5-ranked POINTS (a per-group top-k —
    // map-side WindowGroupLimit shape), so the pair relation is
    // ≤ 64²/2 · |brand| rows NO MATTER the corpus size. The sample is
    // md5-deterministic, so DuckDB replays it exactly and the oracle is
    // the full hash gate, not a tolerance check; RoundSevenPropertiesSpec
    // pins the estimator's robustness (outlier-immunity) analytically
    "q634_theilsen_sampled" -> ((s, dir) =>
      graft.ops.TheilSen.sampledSlopeMilli(
        Tables.part(s, dir), "p_brand",
        x = col("p_size"), y = centsOf(col("p_retailprice")),
        rowKey = col("p_partkey"), k = 64, seed = "ts634")
        .orderBy("p_brand")),

    // lakehouse transaction log: three commits over orders — append
    // 1995-01, append 1995-02, OVERWRITE with 1995-03 — then read both
    // the pinned v2 snapshot (time travel: Jan+Feb) and the head (Mar
    // only) and aggregate by priority. The oracle replays the month
    // filters directly over orders, so a wrong manifest replay (missed
    // file, resurrected pre-overwrite data, off-by-one pin) breaks the
    // hash. Commit cost is one manifest write regardless of table size;
    // TxLogSpec proves isolation/atomicity, io.TxLog docs the
    // object-store mapping
    "q635_time_travel" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority"), centsOf(col("o_totalprice")).as("v"),
        col("o_orderdate"))
      def month(m: Int) = o.filter(
        expr(s"year(o_orderdate) = 1995 AND month(o_orderdate) = $m"))
      val root = io.Zones.tempDir(s"graft_txlog_${new java.io.File(dir).getName}")
      io.TxLog.append(s, root, month(1))
      io.TxLog.append(s, root, month(2))
      io.TxLog.overwrite(s, root, month(3))
      def agg(df: DataFrame, snap: String) = df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .select(lit(snap).as("snap"), col("o_orderpriority"), col("n"),
          col("cents"))
      agg(io.TxLog.snapshot(s, root, Some(2L)), "v2")
        .unionByName(agg(io.TxLog.snapshot(s, root), "head"))
        .orderBy("snap", "o_orderpriority")
    }),

    // lakehouse MERGE (upsert) on the transaction log: seed the table
    // with Jan+Feb orders, then merge a batch that UPDATES every Feb row
    // (cents doubled) and INSERTS Mar — the CDC-apply-onto-the-lake shape
    // (q189 models the pure-SQL semantics; this runs it through real
    // copy-on-write commits). The oracle recomputes the end state from
    // orders directly, so a merge that loses an unmatched row, keeps a
    // stale matched row, or duplicates a key breaks the hash
    "q637_txlog_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_merge_${new java.io.File(dir).getName}")
      io.TxLog.append(s, root,
        o.filter(col("mm") <= 2).select("o_orderkey", "o_orderpriority", "v"))
      val updates = o.filter(col("mm") === 2)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("v") * 2).as("v"))
        .unionByName(o.filter(col("mm") === 3)
          .select("o_orderkey", "o_orderpriority", "v"))
      io.TxLog.merge(s, root, updates, "o_orderkey")
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // transaction-log data skipping: three monthly commits carrying
    // per-file zone maps (min/max of the day offset), then a range read
    // for February that opens ONLY the February file — the manifest-level
    // pruning a 100 TB table needs before any parquet footer is touched.
    // TxLogSpec asserts the pruning (candidate-file count); this query
    // oracles the ANSWER against the source table, so a zone map that
    // skips a matching file (or an off-by-one boundary) breaks the hash
    "q638_txlog_skipping" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_skip_${new java.io.File(dir).getName}")
      (1 to 3).foreach(m => io.TxLog.commit(s, root,
        o.filter(col("mm") === m).drop("mm").coalesce(1), io.TxLog.Append,
        statsCols = Seq("d")))
      io.TxLog.snapshotRange(s, root, "d", 31, 58) // Feb 1995, day offsets
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // transaction-log OPTIMIZE: three stats-FREE monthly commits (no
    // zone maps, so nothing prunable), then one range-clustered rewrite
    // (repartitionByRange on the day offset, stats computed on the new
    // files) and a February range read over the optimized snapshot. The
    // oracle is the source-table answer, so a rewrite that drops,
    // duplicates, or mis-stats any row breaks the hash; TxLogSpec asserts
    // the compaction/pruning/time-travel mechanics
    "q639_txlog_optimize" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_opt_${new java.io.File(dir).getName}")
      (1 to 3).foreach(m =>
        io.TxLog.append(s, root, o.filter(col("mm") === m).drop("mm")))
      io.TxLog.optimize(s, root, targetFiles = 4, sortCol = Some("d"))
      io.TxLog.snapshotRange(s, root, "d", 31, 58) // Feb 1995
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // lakehouse RESTORE: seed Jan+Feb, overwrite with Mar only (the
    // "bad deploy"), restore to the pre-overwrite version — ONE
    // metadata-only commit re-referencing the old files (no data moved
    // at any table size), then aggregate the restored head. The oracle
    // recomputes Jan+Feb from orders, so a restore that resurrects the
    // wrong version, loses a file, or drops the recorded schema breaks
    // the hash; TxLogScaleSpec asserts the by-reference mechanics
    "q643_txlog_restore" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_rst_${new java.io.File(dir).getName}")
      io.TxLog.append(s, root, o.filter(col("mm") <= 2).drop("mm")) // v1
      io.TxLog.overwrite(s, root, o.filter(col("mm") === 3).drop("mm")) // v2
      io.TxLog.restore(s, root, 1L) // v3 ≡ v1, by reference
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // the lakehouse SQL surface end to end: monthly commits, then PURE
    // SQL over the graft_txlog table-valued functions — a time-travel
    // read of the pre-March version UNION'd with the v2→v3 change feed,
    // no DataFrame API in the query text. Exercises TVF resolution,
    // literal-arg time travel, and the CDF tag through Catalyst's SQL
    // path; the oracle recomputes both halves from orders
    "q644_txlog_sql" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_sql_${new java.io.File(dir).getName}")
      (1 to 3).foreach(m =>
        io.TxLog.append(s, root, o.filter(col("mm") === m).drop("mm")))
      s.sql(
        s"""SELECT 'v2' AS snap, o_orderpriority,
           |       CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS cents
           |FROM graft_txlog('$root', 2) GROUP BY 2
           |UNION ALL
           |SELECT 'cdf' AS snap, o_orderpriority,
           |       CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS cents
           |FROM graft_txlog_changes('$root', 2, 3) GROUP BY 2
           |ORDER BY snap, o_orderpriority""".stripMargin)
    }),

    // REAL multimodal byte decode (q31's stub grown up): synthesize a
    // bit-exact BMP (even keys) or RIFF/WAV (odd keys) container per
    // document and run the actual header parsers over the binary column
    // in typed mapPartitions. The oracle recomputes the metadata from
    // the synthesis arithmetic, so one mis-parsed offset/endianness in
    // the decoder breaks the hash on every row; MultimodalSpec addition-
    // ally pins golden fixture bytes (incl. top-down BMP, comments in
    // PPM, truncated headers)
    "q636_media_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id").cast("long"))
        .as[Long]
        .map { id =>
          val payload =
            if (id % 2 == 0)
              Multimodal.makeBmp((id % 500 + 1).toInt, ((id * 3) % 500 + 1).toInt)
            else
              Multimodal.makeWav((8000 + (id % 8) * 1000).toInt, 2, (id % 50).toInt)
          (id, payload)
        }
        .toDF("doc_id", "media")
      Multimodal.extractMeta(media, "doc_id", Multimodal.decode)
        .orderBy("doc_id")
    }),

    // multimodal: opaque binary column + stub decode metadata
    "q31_multimodal_meta" -> ((s, dir) => {
      val nb = octet_length(col("text").cast("binary")).cast("long")
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          nb.as("n_bytes"),
          (nb % 512).as("width"),
          (nb * 7 % 512).as("height"),
          (nb % 16).as("n_frames"))
        .orderBy("doc_id")
    }),

    // change-data-feed read on the transaction log: three monthly append
    // commits, then `changes(v1, v3)` — the incremental-consumer
    // subscription (downstream re-aggregation without rescanning the
    // table; cost = the appended files only). Commit versions line up
    // with months by construction (v1=Jan..v3=Mar), so the oracle
    // recomputes the delta straight from orders: a CDF that drops a
    // version, double-counts a file, or mis-tags `_commit_version`
    // breaks the hash
    "q640_txlog_cdf" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_cdf_${new java.io.File(dir).getName}")
      (1 to 3).foreach(m =>
        io.TxLog.append(s, root, o.filter(col("mm") === m).drop("mm")))
      io.TxLog.changes(s, root, 1L, 3L)
        .groupBy(col("_commit_version").as("commit_v"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("commit_v", "o_orderpriority")
    }),

    // zone-map pruning on the ORDINARY read path: stats-bearing monthly
    // commits, then a PLAIN `snapshot().filter(between)` — no range API
    // named — planned through TxLogFileIndex, which consults the
    // manifest zone maps at plan time and opens only the February file.
    // TxLogScaleSpec asserts the planned file set equals the pruning;
    // this query oracles the ANSWER, so a file index that drops a
    // matching file (or mis-handles a pushed-down predicate) breaks the
    // hash. q638 keeps the explicit-API variant alive side by side
    "q641_txlog_filter_pushdown" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_push_${new java.io.File(dir).getName}")
      (1 to 3).foreach(m => io.TxLog.commit(s, root,
        o.filter(col("mm") === m).drop("mm").coalesce(1), io.TxLog.Append,
        statsCols = Seq("d")))
      io.TxLog.snapshot(s, root)
        .filter(col("d").between(31, 58)) // Feb 1995 — pruned at plan time
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // 2-D zone maps + z-order clustering: one commit laid out along the
    // Morton curve of (day offset, customer bucket) carrying per-file
    // stats on BOTH columns, then a rectangle read — each predicate
    // prunes independently at plan time (a 1-D sort would make the
    // second column's zone maps useless; see io.ZOrder). The oracle
    // recomputes the rectangle from orders, so clustering or stats that
    // lose/duplicate a row break the hash; TxLogScaleSpec asserts the
    // 2-D pruning file set itself
    "q642_txlog_zorder_2d" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 6"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"),
          (col("o_custkey") % 1024).cast("long").as("ck"))
      val root = io.Zones.tempDir(s"graft_z2d_${new java.io.File(dir).getName}")
      val zv = io.ZOrder.zvalue(o, "d", "ck", bits = 8)
      io.TxLog.commit(s, root,
        o.repartitionByRange(8, zv).sortWithinPartitions(zv),
        io.TxLog.Append, statsCols = Seq("d", "ck"))
      io.TxLog.snapshot(s, root)
        .filter(col("d").between(31, 58) && col("ck").between(100, 300))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // STRING zone maps on the lakehouse read path: the corpus commits
    // range-clustered by (lang, doc_id) carrying string stats, then a
    // PLAIN snapshot().filter(lang = 'en') — the LLM pipeline's hottest
    // predicate shape — prunes non-matching files at plan time (round 8
    // zone-mapped only integral columns, so a lang-partitioned 100 TB
    // corpus pruned nothing on its most selective filter). TxLogScaleSpec
    // asserts the planned file set; this query oracles the answer, so a
    // truncation bound or UTF-8-order bug that skips a matching file
    // breaks the hash
    "q645_txlog_string_skipping" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val root = io.Zones.tempDir(s"graft_strskip_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root,
        d.repartitionByRange(8, col("lang"), col("doc_id")),
        io.TxLog.Append, statsCols = Seq("lang", "source", "doc_id"))
      io.TxLog.snapshot(s, root)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")
    }),

    // file-selective COMPACT: one full-month file plus a weekly
    // small-file backlog, then a compaction whose threshold spares the
    // big file — it is carried by reference while only the backlog
    // rewrites (at 100 TB an all-table OPTIMIZE is an O(table) write;
    // routine maintenance must cost O(backlog)). TxLogCdfSpec asserts
    // the manifest diff (exactly the small files replaced); this query
    // oracles the content across the compaction
    "q646_txlog_compact" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"),
          dayofmonth(col("o_orderdate")).as("dd"))
      val root = io.Zones.tempDir(s"graft_cmp_${new java.io.File(dir).getName}")
      io.TxLog.append(s, root,
        o.filter(col("mm") === 1).drop("mm", "dd").coalesce(1)) // v1: one big file
      (1 to 4).foreach(w => io.TxLog.append(s, root, o.filter(
        col("mm") === 2 && col("dd").between(w * 7 - 6, if (w == 4) 31 else w * 7))
        .drop("mm", "dd").coalesce(1))) // v2..v5: weekly small files
      val r = io.TxLog.replay(root, 1L)
      io.TxLog.compact(s, root, smallBytes = r.entries.map(_.bytes.get).min)
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // change-data-feed THROUGH a merge: the merge persists its row-level
    // delta (pre/post images + inserts) at commit time — the one moment
    // it is computable — and changes(withChangeType) reads it back, so
    // incremental consumers survive rewrites instead of falling back to
    // snapshot diffs. The oracle recomputes all three row types from
    // orders, so a delta that misses a matched key, mislabels an insert,
    // or loses a preimage breaks the hash; TxLogCdfSpec proves
    // snapshot(from) + delta ≡ snapshot(to)
    "q647_txlog_cdf_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_cdfm_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root,
        o.filter(col("mm") <= 2).drop("mm")
          .repartitionByRange(4, col("o_orderkey")),
        io.TxLog.Append, statsCols = Seq("o_orderkey")) // v1
      val updates = o.filter(col("mm") === 2)
        .select(col("o_orderkey"), col("o_orderpriority"), (col("v") * 2).as("v"))
        .unionByName(o.filter(col("mm") === 3)
          .select("o_orderkey", "o_orderpriority", "v"))
      val v2 = io.TxLog.merge(s, root, updates, "o_orderkey")
      io.TxLog.changes(s, root, 1L, v2, withChangeType = true)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("change_type")
    }),

    // hive-style partition columns ON the transaction log: the commit
    // declares partitionBy in the manifest (the LOG is the partition-spec
    // authority — no directory discovery, no type inference), data lands
    // under lang=... dirs without the column in the files, and a filter
    // on the partition column prunes DIRECTORIES at plan time while zone
    // maps keep pruning files inside survivors (TxLogPartitionSpec
    // asserts PartitionFilters in the plan + the pruned file set; this
    // query oracles the answer, so value parsing or a dropped partition
    // breaks the hash)
    "q648_txlog_partitioned" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val root = io.Zones.tempDir(s"graft_part_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, d, io.TxLog.Append,
        statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
      io.TxLog.snapshot(s, root)
        .filter(col("lang").isin("en", "fr"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("lang", "source")
    }),

    // copy-on-write DELETE (the GDPR shape): a day-range predicate is
    // pruned through the file index at PLAN time, so only the files
    // whose zone maps can hold a matching row rewrite — the rest carry
    // by reference; rows where the predicate is NULL are kept (ANSI),
    // and the deleted rows persist as delete-typed change rows
    // (TxLogCdfSpec proves the apply contract + the manifest diff). The
    // oracle recomputes the survivors straight from orders, so a delete
    // that loses a non-matching row or keeps a matching one breaks the
    // hash
    "q649_txlog_delete" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"))
      val root = io.Zones.tempDir(s"graft_del_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.repartitionByRange(6, col("d")),
        io.TxLog.Append, statsCols = Seq("d"))
      io.TxLog.delete(s, root, col("d").between(31, 58), // drop Feb 1995
        statsCols = Seq("d"))
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // copy-on-write UPDATE: a day-range SET (triple February's cents)
    // rewrites only the files whose zone maps can hold a match, every
    // SET right-hand side evaluating against the OLD row (TxLogCdfSpec
    // pins swap semantics + the manifest diff + the typed pre/post
    // images). The oracle recomputes the post-update table from orders,
    // so an update that touches a non-matching row, misses a matching
    // one, or reads its RHS post-assignment breaks the hash
    "q650_txlog_update" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"))
      val root = io.Zones.tempDir(s"graft_upd_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.repartitionByRange(6, col("d")),
        io.TxLog.Append, statsCols = Seq("d"))
      io.TxLog.update(s, root, col("d").between(31, 58), // Feb 1995
        Map("v" -> col("v") * 3), statsCols = Seq("d"))
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // DATE zone maps: the table is range-laid on o_orderdate itself and a
    // date-LITERAL between — the fact-table predicate shape, no derived
    // day-offset column — prunes at plan time via the date's
    // Catalyst-internal day image (round 8 zone-mapped only integral
    // columns, so this shape read everything). TxLogScaleSpec asserts the
    // pruned file set for date and timestamp; the oracle recomputes
    // February from orders, so a day-image off-by-one (epoch, timezone)
    // breaks the hash
    "q651_txlog_date_skipping" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"), col("o_orderdate"))
      val root = io.Zones.tempDir(s"graft_date_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.repartitionByRange(6, col("o_orderdate")),
        io.TxLog.Append, statsCols = Seq("o_orderdate"))
      io.TxLog.snapshot(s, root)
        .filter(col("o_orderdate").between(
          lit(java.sql.Date.valueOf("1995-02-01")),
          lit(java.sql.Date.valueOf("1995-02-28"))))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // type-WIDENING schema evolution oracled end to end: January commits
    // the key as INT32, February as INT64 — the recorded schema widens
    // int→long instead of poisoning to footer inference (round 8's
    // behavior condemned every later read of such a table), and the head
    // snapshot reads the old int32 files THROUGH the widened long schema
    // (Spark 4's parquet readers evaluate the upcast natively). The
    // oracle recomputes counts, cents, and the key sum from orders, so a
    // widening that drops a file, misreads int32 values, or wrecks the
    // aggregate types breaks the hash; SchemaEvolutionSpec pins the
    // recorded-schema mechanics
    "q652_txlog_widening" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_wide_${new java.io.File(dir).getName}")
      io.TxLog.append(s, root, o.filter(col("mm") === 1)
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_orderpriority"), col("v")))
      io.TxLog.append(s, root, o.filter(col("mm") === 2)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"), col("v")))
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"),
          sum(col("k")).as("keysum"))
        .orderBy("o_orderpriority")
    }),

    // per-file BLOOM indexes on the lakehouse read path: the corpus
    // commits interleaved by doc_id % 8, so every file's doc_id
    // [min, max] spans essentially the whole table and zone maps prune
    // NOTHING for a point lookup — the secondary-key shape (Delta's
    // bloom index / Parquet bloom design point). Each commit builds a
    // sidecar bitset per file in the same job that writes it, and the
    // plain snapshot().filter(doc_id IN ...) consults them at plan time,
    // opening only files that can hold the probed ids. TxLogBloomSpec
    // asserts the planned file set and the sidecar-read bound; this
    // query oracles the ANSWER, so a false skip (hash-reconciliation
    // bug, lost sidecar on carry) breaks the hash
    "q653_txlog_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val root = io.Zones.tempDir(s"graft_bloom_${new java.io.File(dir).getName}")
      (0 until 8).foreach(b => io.TxLog.commit(s, root,
        d.filter(pmod(col("doc_id"), lit(8)) === b).coalesce(1),
        io.TxLog.Append, statsCols = Seq("doc_id"),
        bloomCols = Map("doc_id" -> 8192L)))
      io.TxLog.snapshot(s, root)
        .filter(col("doc_id").isin(7L, 103L, 211L, 339L, 491L))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // shallow CLONE: a metadata-only fork — one manifest referencing the
    // source's files by absolute path, zero data movement (at 100 TB a
    // dev/test fork costs kilobytes). The source is then MERGED (prices
    // doubled for February) AFTER the fork; the clone must keep reading
    // the pre-merge state through its external references while the
    // source moves on — the oracle recomputes the ORIGINAL two months
    // from orders, so a clone that leaks source writes, mis-resolves an
    // external path, or loses a carried file breaks the hash.
    // TxLogCloneSpec pins zero-copy, both isolation directions,
    // copy-on-write rewrites INTO the clone, and vacuum safety
    "q654_txlog_clone" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val src = io.Zones.tempDir(s"graft_clsrc_${new java.io.File(dir).getName}")
      (1 to 2).foreach(m => io.TxLog.commit(s, src,
        o.filter(col("mm") === m).drop("mm").coalesce(1), io.TxLog.Append,
        statsCols = Seq("o_orderkey")))
      val dst = io.Zones.tempDir(s"graft_cldst_${new java.io.File(dir).getName}")
      io.TxLog.cloneTable(src, dst)
      // the source moves on: February prices double — the clone must not see it
      io.TxLog.merge(s, src,
        o.filter(col("mm") === 2).select(col("o_orderkey"),
          col("o_orderpriority"), (col("v") * 2).as("v")), "o_orderkey")
      io.TxLog.snapshot(s, dst)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // CHECK constraints: a write-time guarantee on the lakehouse —
    // ADD CONSTRAINT validates the existing table in one scan, then
    // every commit's rows are validated by a read-back proportional to
    // the COMMIT (never the table; constraint-free tables pay zero).
    // A poisoned February batch (negated prices) is refused WHOLE —
    // atomically, no manifest published — and the correct batch then
    // lands. The oracle recomputes both months from orders, so
    // enforcement that admits the bad batch, drops the good one, or
    // tears a commit breaks the hash. TxLogConstraintSpec pins SQL NULL
    // semantics, retroactive ADD validation, checkpoint survival, DROP,
    // merge enforcement, and the zero-cost fast path
    "q655_txlog_constraints" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_cons_${new java.io.File(dir).getName}")
      io.TxLog.append(s, root, o.filter(col("mm") === 1).drop("mm"))
      io.TxLog.addConstraint(s, root, "pos_cents", "v > 0")
      val refused =
        try {
          io.TxLog.append(s, root,
            o.filter(col("mm") === 2).drop("mm").withColumn("v", -col("v")))
          false
        } catch { case _: io.TxLog.ConstraintViolation => true }
      require(refused, "txlog: constraint failed to fire on the poisoned batch")
      io.TxLog.append(s, root, o.filter(col("mm") === 2).drop("mm"))
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // DELETION VECTORS (merge-on-read DELETE): the delete writes only
    // the matched rows' (file, row_index) positions under _dv/ and
    // re-references every data file untouched — commit cost O(matched
    // rows), not O(rewritten files); at 100 TB that is the difference
    // between a routine GDPR pass and rewriting terabytes. The plain
    // snapshot read subtracts the positions with one broadcast anti-join
    // above the scan (pruning and pushdown unaffected). The oracle
    // recomputes the survivors from orders, so a wrong position, a
    // dropped vector, or a resurrected row breaks the hash; TxLogDvSpec
    // pins untouched data files, composition, CDF, rewrite
    // materialization, vacuum lifetime, and clone resolution
    "q656_txlog_dv" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"))
      val root = io.Zones.tempDir(s"graft_dv_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.repartitionByRange(4, col("o_orderkey")),
        io.TxLog.Append, statsCols = Seq("o_orderkey"))
      io.TxLog.deleteVectors(s, root, pmod(col("o_orderkey"), lit(10)) < 3)
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // merge-on-read UPDATE: old row images become deletion-vector
    // positions and the post-images land as one appended file — write
    // cost O(matched rows) where copy-on-write UPDATE rewrites every row
    // of every touched file. SET evaluates against the OLD row (q650's
    // contract), the read subtracts+appends transparently. The oracle
    // recomputes the post-update table from orders (a CASE mirror), so a
    // lost post-image, an un-deleted old image (double counting), or a
    // misapplied assignment breaks the hash; TxLogDvSpec pins swap
    // semantics, the one-appended-file shape, CDF images, and constraint
    // enforcement on post-images
    "q657_txlog_mor_update" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"))
      val root = io.Zones.tempDir(s"graft_dvu_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.repartitionByRange(4, col("o_orderkey")),
        io.TxLog.Append, statsCols = Seq("o_orderkey"))
      io.TxLog.updateVectors(s, root,
        pmod(col("o_orderkey"), lit(10)) < 3, Map("v" -> col("v") * 2))
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // metadata-only COUNT(*): per-file row counts are recorded by the
    // commit's write (Delta's numRecords) and the DV ops maintain per-file
    // deleted counts, so rowCount answers from the LOG alone — the API
    // takes no SparkSession, which is the proof no data file or footer
    // is touched (at 100 TB: an instant answer vs a full scan). The
    // oracle recomputes the surviving count from documents, so a stale
    // ledger (missed delete, double-counted post-image) breaks the hash;
    // TxLogRowCountSpec pins the ledger across commits, DV deletes, MoR
    // updates, merges, and the None degradation for stats-free commits
    "q658_txlog_rowcount" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val root = io.Zones.tempDir(s"graft_rc_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, d.repartitionByRange(4, col("doc_id")),
        io.TxLog.Append, statsCols = Seq("doc_id"))
      io.TxLog.deleteVectors(s, root, pmod(col("doc_id"), lit(7)) === 0)
      val n = io.TxLog.rowCount(root).getOrElse(
        sys.error("txlog: rowCount unavailable on a fully-counted table"))
      import s.implicits._
      Seq(n).toDF("n_rows")
    }),

    // INCREMENTAL clustered compaction: a z-ordered base plus a
    // small-file append backlog, then compactZOrder rewrites ONLY the
    // backlog along the Morton curve of (day offset, customer bucket) —
    // full OPTIMIZE ZORDER is an O(table) rewrite nobody schedules at
    // 100 TB, while the ingest backlog must keep joining the clustered
    // layout (the liquid-clustering maintenance loop). The rectangle
    // read after the pass is oracled against orders, so a compaction
    // that loses/duplicates a backlog row or wrecks either dimension's
    // zone maps breaks the hash; CompactSpec pins the manifest diff
    // (base carried by reference, backlog ≤ half its file count, fresh
    // 2-D stats)
    "q659_txlog_compact_zorder" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 6"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("d"),
          (col("o_custkey") % 1024).cast("long").as("ck"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_czo_${new java.io.File(dir).getName}")
      val base = o.filter(col("mm") <= 4).drop("mm")
      val zv = io.ZOrder.zvalue(base, "d", "ck", bits = 8)
      io.TxLog.commit(s, root,
        base.repartitionByRange(4, zv).sortWithinPartitions(zv),
        io.TxLog.Append, statsCols = Seq("d", "ck")) // clustered base
      (5 to 6).foreach(m => io.TxLog.commit(s, root,
        o.filter(col("mm") === m).drop("mm").coalesce(1), io.TxLog.Append,
        statsCols = Seq("d", "ck"))) // ingest backlog
      val smallest = io.TxLog.replay(root, 1L).entries.flatMap(_.bytes).min
      io.TxLog.compactZOrder(s, root, "d", "ck", smallBytes = smallest)
      io.TxLog.snapshot(s, root)
        .filter(col("d").between(31, 58) && col("ck").between(100, 300))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // COLUMN MAPPING (RENAME COLUMN) oracled end to end: January commits
    // under the original names, TWO renames land as metadata-only
    // commits (zero data movement — the point at 100 TB), February
    // commits under the new names, and the head snapshot filters +
    // aggregates the RENAMED columns across both generations of files.
    // The mapping keys manifests' stats by PHYSICAL name, so January's
    // pre-rename string zone map still prunes the `priority` predicate;
    // the oracle recomputes from orders, so a mis-mapped column (old
    // bytes under the new name, lost January rows, a clobbered stats
    // key) breaks the hash. ColumnMappingSpec pins the mechanics
    // (drop-then-re-add freshness, checkpoint survival, DML across a
    // rename, collision-free re-append)
    "q660_txlog_rename" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("prio"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_ren_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.filter(col("mm") === 1).drop("mm").coalesce(1),
        io.TxLog.Append, statsCols = Seq("k", "prio"))
      io.TxLog.renameColumn(root, "prio", "priority")
      io.TxLog.renameColumn(root, "v", "cents_amount")
      io.TxLog.commit(s, root, o.filter(col("mm") === 2).drop("mm")
        .withColumnRenamed("prio", "priority")
        .withColumnRenamed("v", "cents_amount").coalesce(1),
        io.TxLog.Append, statsCols = Seq("k", "priority"))
      io.TxLog.snapshot(s, root)
        .filter(col("priority") >= "3")
        .groupBy("priority")
        .agg(count(lit(1)).as("n"), sum(col("cents_amount")).as("cents"))
        .orderBy("priority")
    }),

    // PARTITION EVOLUTION oracled end to end: January lands FLAT,
    // February lands hive-partitioned by priority with an explicit
    // `evolvePartitions` commit (Iceberg's spec evolution at txlog
    // size) — the head read unions both layout generations per-file
    // (January's priority comes from the files, February's from k=v
    // dirs, with directory pruning still applying to the partitioned
    // generation) and the oracle recomputes from orders, so a dropped
    // generation, a misparsed dir, or a lost partition value breaks the
    // hash. TxLogPartitionSpec pins the mechanics (mixed reads, DML on
    // mixed, compact migrating everything to the current spec)
    "q661_txlog_partition_evolution" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_pevo_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.filter(col("mm") === 1).drop("mm").coalesce(1),
        io.TxLog.Append, statsCols = Seq("o_orderkey"))
      io.TxLog.commit(s, root, o.filter(col("mm") === 2).drop("mm"),
        io.TxLog.Append, statsCols = Seq("o_orderkey"),
        partitionBy = Seq("o_orderpriority"), evolvePartitions = true)
      io.TxLog.snapshot(s, root)
        .filter(col("o_orderpriority") >= "3")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // PARTITION-COLUMN RENAME oracled end to end: January lands
    // hive-partitioned by o_orderpriority, the PARTITION column then
    // renames to `priority` (metadata-only — the k=v directories keep
    // the physical name and new writes keep using it, so the layout
    // stays physically uniform), February lands under the NEW
    // declaration, and the read groups by the renamed column across
    // both eras with directory pruning resolving through the mapping.
    // The oracle recomputes from the base orders table, so a
    // NULL-filled renamed partition value, a lost era, or a misrouted
    // post-rename write breaks the hash. ColumnMappingSpec pins the
    // mechanics (old dirs + new writes + pruning + checkpoint survival)
    "q662_txlog_partition_rename" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          centsOf(col("o_totalprice")).as("v"),
          month(col("o_orderdate")).as("mm"))
      val root = io.Zones.tempDir(s"graft_pren_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, o.filter(col("mm") === 1).drop("mm"),
        io.TxLog.Append, statsCols = Seq("o_orderkey"),
        partitionBy = Seq("o_orderpriority"))
      io.TxLog.renameColumn(root, "o_orderpriority", "priority")
      io.TxLog.commit(s, root, o.filter(col("mm") === 2).drop("mm")
        .withColumnRenamed("o_orderpriority", "priority"),
        io.TxLog.Append, statsCols = Seq("o_orderkey"),
        partitionBy = Seq("priority"))
      io.TxLog.snapshot(s, root)
        .filter(col("priority") >= "3")
        .groupBy("priority")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("priority")
    }),

    // the data-source surface end-to-end: a table WRITTEN through
    // `df.write.format("graft")` (two appends), then a merge-on-read
    // DELETE — and READ back through `spark.read.format("graft")` on
    // BOTH relation paths in one result: the head read plans the
    // deletion vectors through the wrapper relation, the
    // versionAsOf(2) read plans the pre-delete snapshot as the bare
    // index-backed file source. Oracle recomputes both eras from the
    // base table.
    "q663_graft_format_read" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 6"))
        .select(col("o_orderkey"),
          month(col("o_orderdate")).cast("long").as("mm"),
          centsOf(col("o_totalprice")).as("v"))
      val root = io.Zones.tempDir(s"graft_fmt_${new java.io.File(dir).getName}")
      o.filter(col("mm") <= 3)
        .write.format("graft").mode("append").save(root) // v1
      o.filter(col("mm") > 3)
        .write.format("graft").mode("append").save(root) // v2
      io.TxLog.deleteVectors(s, root, col("o_orderkey") % 10 === 7L) // v3
      val head = s.read.format("graft").load(root)
        .groupBy("mm").agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .withColumn("era", lit("head"))
      val preDelete = s.read.format("graft").option("versionAsOf", "2")
        .load(root)
        .groupBy("mm").agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .withColumn("era", lit("v2"))
      head.unionByName(preDelete).orderBy("era", "mm")
    }),

    // SQL DML over the txlog: DELETE (merge-on-read vectors), UPDATE
    // (post-images + vectors, SET referencing the column itself), and
    // MERGE (file-granular upsert) driven as PLAIN SQL STATEMENTS
    // through the extension session, against a catalog `USING graft`
    // table. Oracle replays the three statements relationally: delete
    // on the ORIGINAL value, update adds after, merge = source rows
    // override matched keys and insert the rest.
    "q664_graft_sql_dml" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995 AND month(o_orderdate) <= 2"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          centsOf(col("o_totalprice")).as("v"))
      val root = io.Zones.tempDir(s"graft_dml_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, base.coalesce(1), io.TxLog.Append,
        statsCols = Seq("o_orderkey"))
      val s2 = sources.GraftSession.withDml(s)
      val tbl = s"q664_${java.util.UUID.randomUUID().toString.take(8)}"
      s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
      try {
        s2.sql(s"DELETE FROM $tbl WHERE v < 5000000")
        s2.sql(s"UPDATE $tbl SET v = v + 7 WHERE o_orderstatus = 'F'")
        val srcTbl = s"${tbl}_src"
        Tables.orders(s2, dir)
          .filter(expr(
            "year(o_orderdate) = 1995 AND month(o_orderdate) = 3 " +
              "AND o_orderkey % 5 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            (centsOf(col("o_totalprice")) * 2).as("v"))
          .createOrReplaceTempView(srcTbl)
        s2.sql(
          s"""MERGE INTO $tbl USING $srcTbl ON $tbl.o_orderkey = $srcTbl.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
      io.TxLog.snapshot(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // SQL INSERT over a partitioned txlog catalog table: plain INSERT
    // INTO (transactional append), a static-spec INSERT INTO PARTITION
    // (value injected as a typed literal), and INSERT OVERWRITE
    // PARTITION (the atomic partition replace — only the named
    // partition's files drop, everything else carries by reference).
    // Oracle replays the journey relationally: months 1 and 3 as
    // loaded/appended, month 4 from the static-spec insert, month 2
    // replaced wholesale by the tripled subset.
    "q665_graft_sql_insert" -> ((s, dir) => {
      val b = Tables.orders(s, dir)
        .filter(expr("year(o_orderdate) = 1995"))
        .select(col("o_orderkey"),
          month(col("o_orderdate")).cast("long").as("mm"),
          centsOf(col("o_totalprice")).as("v"))
      val root = io.Zones.tempDir(s"graft_ins_${new java.io.File(dir).getName}")
      io.TxLog.commit(s, root, b.filter(col("mm") <= 2).coalesce(1),
        io.TxLog.Append, statsCols = Seq("o_orderkey"),
        partitionBy = Seq("mm"))
      val s2 = sources.GraftSession.withDml(s)
      val tbl = s"q665_${java.util.UUID.randomUUID().toString.take(8)}"
      s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
      try {
        // temp views are SESSION-scoped: build them in the DML session
        val b2 = Tables.orders(s2, dir)
          .filter(expr("year(o_orderdate) = 1995"))
          .select(col("o_orderkey"),
            month(col("o_orderdate")).cast("long").as("mm"),
            centsOf(col("o_totalprice")).as("v"))
        // positional order is the VISIBLE schema (o_orderkey, v, mm) —
        // data columns first, partition column last, as SELECT * shows
        b2.filter(col("mm") === 3).createOrReplaceTempView(s"${tbl}_mar")
        s2.sql(s"INSERT INTO $tbl SELECT o_orderkey, v, mm FROM ${tbl}_mar")
        b2.filter(col("mm") === 4).select(col("o_orderkey"), col("v"))
          .createOrReplaceTempView(s"${tbl}_apr")
        s2.sql(s"INSERT INTO $tbl PARTITION (mm=4) " +
          s"SELECT o_orderkey, v FROM ${tbl}_apr")
        b2.filter(col("mm") === 2 && col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), (col("v") * 3).as("v"))
          .createOrReplaceTempView(s"${tbl}_feb3")
        s2.sql(s"INSERT OVERWRITE $tbl PARTITION (mm=2) " +
          s"SELECT o_orderkey, v FROM ${tbl}_feb3")
      } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
      io.TxLog.snapshot(s, root)
        .groupBy("mm")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"))
        .orderBy("mm")
    }),
  )
}
