package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Second-wave operator coverage: set ops, null handling, typed JSON,
  * Spark's TimeWindow, distinct/approx-distinct aggregates (the operators
  * SURVEY.md §2.4/2.5 flags as absent from the reference), plus the
  * library operators surfaced as driver-checkable queries.
  */
object Extended {

  /** Set operations (union / except) — dedup-delta shape: nations that
    * have customers but none with an open high-value order. Threshold
    * 496000 sits just under the corpus's ~500k o_totalprice cap so the
    * delta is non-empty at the sf0.01 correctness gate (7 of 25 nations;
    * 20 at sf0.001) — the round-3 value of 300000 made the except
    * vacuously empty (every nation qualified), so a broken except would
    * still have "passed". */
  def nationDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val withCust = c.select($"c_nationkey".as("nationkey")).distinct()
    val withBigOpen = c
      .join(o.filter($"o_orderstatus" === "O" && $"o_totalprice" > 496000.0),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_nationkey".as("nationkey")).distinct()
    withCust.except(withBigOpen)
      .orderBy($"nationkey")
  }

  /** Column profiler — the data-quality sweep run before any pipeline
    * decision: one row per column with row/null/distinct counts and
    * min/max rendered as strings (a single typed frame over
    * heterogeneous columns). Generic over any DataFrame; registered on
    * documents. Each column is one map-combinable aggregate (exact
    * distinct is the two-phase shape; swap approx_count_distinct at
    * scales where a per-column exact distinct is itself a job), and the
    * per-column frames union into one plan Spark runs as parallel
    * stages. String min/max use binary collation in both engines, so
    * the oracle is exact. */
  def profile(df: DataFrame): DataFrame = {
    val perCol = df.columns.toSeq.map { name =>
      val c = col(name)
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(c).as("n_distinct"),
        min(c).cast(StringType).as("min_str"),
        max(c).cast(StringType).as("max_str"))
        .select(lit(name).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }
    perCol.reduce(_.unionByName(_)).orderBy(col("col_name"))
  }

  def profileDocuments(s: SparkSession, dir: String): DataFrame =
    profile(Tables.documents(s, dir))

  /** Null handling (P1 shape): left join produces nulls; na.fill +
    * coalesce aggregate. */
  def nullFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, dir)
      .filter($"o_totalprice" > 400000.0)
      .groupBy($"o_custkey").agg(max($"o_totalprice").as("max_big"))
    Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
      .join(big, $"c_custkey" === $"o_custkey", "left_outer")
      .na.fill(Map("max_big" -> 0.0))
      .groupBy($"c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when($"max_big" > 0.0, 1L).otherwise(0L)).as("n_with_big"),
        sum($"max_big".cast("decimal(18,2)")).cast("double").as("sum_max_big"))
      .orderBy($"c_nationkey")
  }

  private val propsSchema = StructType(Seq(StructField("k", IntegerType)))

  /** Typed from_json (vs the string-path get_json_object in jsonProps). */
  def jsonTyped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", from_json($"props", propsSchema).getField("k").as("k"))
      .groupBy($"event_type", pmod($"k", lit(10)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum($"k").cast("long").as("sum_k"))
      .orderBy($"event_type", $"k_bucket")
  }

  /** Spark TimeWindow operator (window() function, tumbling 6h) — the
    * streaming-native bucket operator run in batch. */
  def eventWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "6 hours").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"w.start".as("w_start"), $"event_type", $"n_events")
      .orderBy($"w_start", $"event_type")
  }

  /** Exact distinct-count aggregates (expand-based plan). */
  def distinctCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey", $"l_partkey").as("n_supp_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  // ---- rows-only queries (no SQL oracle; driver checks rows>0 shape) ----

  /** HyperLogLog++ approximate distinct — sketch values are Spark-
    * specific, so no DuckDB oracle (hllDistinct below is the graft-native
    * hash-checked twin); the relative-error contract is asserted in
    * ExtendedSpec instead. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"),
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** Graft-native HLL distinct sketch (functions.HllDistinct, p = 8 →
    * 256 byte registers) next to the exact count — the REPLAYABLE twin
    * of q_approx_distinct: the splitmix64 row hash, every register, the
    * zero-register count, and the raw estimator's pinned-order IEEE sum
    * are all recomputed independently by DuckDB
    * (SplitmixReplaySql.hllDistinctSql), so the hash gate covers the
    * sketch bit-for-bit, not just a tolerance. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        graft.functions.SketchAggs.hllDistinct($"l_orderkey", 8, 42L)
          .as("h"),
        countDistinct($"l_orderkey").as("true_distinct"))
      .select($"l_returnflag", $"h.est".as("hll_est"),
        $"h.n_zero".as("n_zero"), $"true_distinct")
      .orderBy($"l_returnflag")
  }

  /** Windowed HLL — distinct users per 6h tumbling window per event
    * type: the sketch × TimeWindow composition every traffic/dedup
    * dashboard runs at scale (exact windowed countDistinct re-shuffles
    * every event; the sketch moves 256 bytes per window). Emits the raw
    * estimator + n_zero (the mergeable sufficient statistics — the
    * linear-counting correction for these small-n windows is libm and
    * belongs to the consumer; ExtendedSpec applies it and pins the
    * composite estimate's accuracy), plus the exact twin column. Fully
    * replayed by SplitmixReplaySql.windowHllSql. */
  def windowHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "6 hours").as("w"), $"event_type")
      .agg(
        graft.functions.SketchAggs.hllDistinct($"user_id", 8, 42L).as("h"),
        countDistinct($"user_id").as("true_users"))
      .select($"w.start".as("w_start"), $"event_type",
        $"h.est".as("hll_est"), $"h.n_zero".as("n_zero"), $"true_users")
      .orderBy($"w_start", $"event_type")
  }

  /** Merge-on-read distinct-count MV — sketch STATE as data: the events
    * stream is split into 4 batch shards (event_id mod 4, standing in
    * for daily refresh batches), each shard stores one binary HLL
    * register state per event_type (functions.HllRegisters — the
    * warehouse pattern where the MV holds sketches, not counts), and
    * the read path merges stored states (HllMerge) and scores the
    * result (HllEstimate). Register max-merge is associative,
    * commutative, and idempotent, so merge(state(A), state(B)) is
    * BIT-IDENTICAL to state(A ∪ B) — which is why the full-recompute
    * DuckDB oracle hash-checks this incremental path without knowing
    * the sharding existed. At 100 TB this is the difference between
    * re-scanning history on every refresh and merging 256 bytes per
    * group: distinct counts become additive. */
  def hllMergeMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val states = ev
      .withColumn("shard", pmod($"event_id", lit(4L)))
      .groupBy($"event_type", $"shard")
      .agg(graft.functions.SketchAggs.hllRegisters($"user_id", 8, 42L)
        .as("st"))
    val merged = states
      .groupBy($"event_type")
      .agg(graft.functions.SketchAggs.hllMerge($"st", 8).as("st"))
      .select($"event_type",
        graft.functions.SketchAggs.hllEstimate($"st").as("h"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("true_users"))
    merged.join(exact, "event_type")
      .select($"event_type", $"h.est".as("hll_est"),
        $"h.n_zero".as("n_zero"), $"true_users")
      .orderBy($"event_type")
  }

  /** Approximate percentiles (KLL-style sketch) — the scale path next to
    * the exact `Relational.quantiles`; sketch internals are Spark-specific
    * so no cross-engine oracle (hashQuantiles below is the deterministic
    * hash-checked twin), the error contract vs exact percentiles is
    * pinned in ExtendedSpec. */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        percentile_approx($"l_quantity", lit(0.5), lit(1000)).as("approx_p50"),
        percentile_approx($"l_extendedprice", lit(0.9), lit(1000)).as("approx_p90"))
      .orderBy($"l_returnflag")
  }

  /** Deterministic approximate quantiles via a bottom-k-by-key-hash row
    * sample (functions.BottomKPairs, k = 500 per group): the k rows with
    * the smallest seeded key hash are a uniform row subset — a pure
    * function of the group's key set, so unlike GK/KLL/t-digest (all
    * arrival-order-dependent) the estimate is partition-invariant AND
    * cross-engine replayable. The quantile is the sorted sample's
    * ⌊q·(n−1)⌋+1-th element — integer indexing over raw data values, no
    * interpolation arithmetic to drift. Keyed on
    * orders (o_orderkey IS unique — the sampler's contract; lineitem's
    * synthetic (orderkey, linenumber) repeats with different payloads,
    * which a key-hash sample cannot disambiguate). Scale shape: constant
    * ≤k-triple state per group, map-side combine, no full-group sort
    * (the sketch quantile contract). Accuracy vs exact quantiles
    * (√k concentration) is pinned in ExtendedSpec. */
  def hashQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(
        graft.functions.SketchAggs.bottomKPairs(
          $"o_orderkey", $"o_totalprice", 500, 42L).as("sp"))
      .select($"o_orderstatus",
        size($"sp").as("n_sample"),
        expr("element_at(sp, CAST((size(sp)-1) DIV 2 + 1 AS INT))")
          .as("p50_price"),
        expr("element_at(sp, CAST(((size(sp)-1)*9) DIV 10 + 1 AS INT))")
          .as("p90_price"))
      .orderBy($"o_orderstatus")
  }

  /** Per-stratum sampling rates as exact rationals (flag, num, den) —
    * the single source of truth shared with the DuckDB replay oracle
    * (XxhReplaySql.stratifiedSampleSql). */
  val stratTiers: Seq[(String, Int, Int)] =
    Seq(("A", 1, 5), ("N", 1, 10), ("R", 1, 20))

  /** Exact integer acceptance threshold on the top-53-bit uniform:
    * keep iff (hash >>> 11) < floor(2^53 · num / den). Multiply BEFORE
    * the floor division so the documented rate identity holds for any
    * num/den tier (floor(2^53/den)·num under-counts when num > 1 and
    * den ∤ 2^53); 2^53·num needs num ≤ 1023 to stay inside a Long
    * (num = 1024 is exactly 2^63 — Long.MinValue, a silent sign flip). */
  def stratThreshold(num: Int, den: Int): Long = {
    require(num >= 1 && num <= 1023 && den >= 1, s"rate $num/$den")
    ((1L << 53) * num) / den
  }

  /** Stratified (per-key-fraction) Bernoulli sampling — S5's `sample`
    * generalized. The draw is a PURE FUNCTION of the row key, not of
    * partitioning: u = top 53 bits of xxhash64(orderkey·16+linenumber),
    * keep iff u < rate·2^53 (exact integer thresholds, no float compare).
    * That is the production sampler at scale — map-only, zero shuffle,
    * and the selected row SET is identical under repartitioning, AQE
    * re-plans, task retries, and corpus backfills (rand()/sampleBy draws
    * change with row-to-partition assignment, so a re-run "samples" a
    * different corpus). Deterministic ⇒ fully oracle-checkable: DuckDB
    * replays the hash (XxhReplaySql.longHashStages) and the integer
    * threshold compare bit-for-bit. The per-stratum rate contract
    * (Binomial concentration around num/den) is pinned in ExtendedSpec. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u53 = shiftrightunsigned(
      xxhash64($"l_orderkey" * lit(16L) + $"l_linenumber"), 11)
    val thr = stratTiers.tail.foldLeft(
      when($"l_returnflag" === stratTiers.head._1,
        lit(stratThreshold(stratTiers.head._2, stratTiers.head._3)))) {
      case (c, (f, num, den)) =>
        c.when($"l_returnflag" === f, lit(stratThreshold(num, den)))
    }.otherwise(lit(0L))
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity")
      .filter(u53 < thr)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"),
        sum(dec($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Deterministic train/val/test split — assignment is a pure function
    * of the example key (salted md5; first two hex chars = 256 buckets,
    * 230/13/13 ≈ 89.8/5.1/5.1%). The properties that make this the
    * standard split for training corpora at scale: map-only (no shuffle,
    * no sampling state), stable under re-runs and backfills (a doc's
    * split never changes as the corpus grows around it), and
    * leakage-controllable by keying on a coarser unit — swap doc_id for
    * a near-dup cluster representative (GraphQueries.dedupCorpus) or a
    * source/domain to keep correlated examples on one side of the
    * boundary. md5 hex and string comparison agree bit-for-bit between
    * Spark and DuckDB, so the full assignment is oracle-checked. */
  def hashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 2)
          .as("bucket"))
      .withColumn("split",
        when($"bucket" < "e6", "train")
          .when($"bucket" < "f3", "val")
          .otherwise("test"))
      .orderBy($"doc_id")
  }

  /** Mixture tiers for sourceMix: source → exclusive upper bound on the
    * 2-hex-char hash bucket. "zz" sorts after every hex pair = keep all;
    * "80"/"40"/"20" keep 128/64/32 of 256 buckets. Single source of
    * truth — SparkEntry renders the same table into the DuckDB oracle. */
  val mixTiers: Seq[(String, String)] = Seq.tabulate(20) { i =>
    val thr = i / 5 match {
      case 0 => "zz"
      case 1 => "80"
      case 2 => "40"
      case _ => "20"
    }
    (s"src$i", thr)
  }

  /** Source-weighted mixture sampling — the data-mixing step of a
    * training pipeline (reweight corpus sources toward a target recipe,
    * e.g. upweight curated tiers, downweight crawl tiers). Each source
    * carries a keep-rate quantized to 256ths; a doc is kept iff its
    * salted-md5 bucket falls under the source's threshold. Like
    * hashSplit this is deterministic, backfill-stable, and map-only at
    * scale: the 20-row recipe broadcast-joins onto the scan, so there is
    * no shuffle and no sampling state. Per-doc keep decisions are
    * oracle-checked bit-for-bit. */
  def sourceMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = mixTiers.toDF("source", "mix_thr")
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 2)
          .as("bucket"))
      .join(broadcast(rates), Seq("source"))
      .filter($"bucket" < $"mix_thr")
      .select($"doc_id", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  /** Temperature-based mixture sampling (the mT5/UniMax move, α = 0.5):
    * per-language sampling rates derived FROM the corpus itself — share
    * ∝ n^α, so dominant languages are down-weighted and the tail is
    * up-weighted relative to proportional sampling — then the same
    * deterministic md5-threshold keep decision as sourceMix. The lang
    * axis is the skewed one in this corpus (en ≈ 3× the tail), so the
    * rates genuinely differ; `source` is uniform by construction and
    * would make the temperature vacuous.
    *
    * Cross-engine exactness: Σ√n is order-dependent in floating point,
    * so weights are quantized to integers FIRST (⌊√n·2²⁰⌋) and summed
    * exactly; every remaining double op is a fixed sequence (one
    * long→double cast, one division, one least, one floor·2²⁴) both
    * engines execute identically, and the keep decision compares two
    * INTEGERS (first-6-hex-digit value vs the floored threshold).
    * Map-only at scale: the 5-row rate table broadcast-joins onto the
    * scan; the rate derivation itself is one 5-row aggregate. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wAll = Window.partitionBy(lit(1))
    val rates = Tables.documents(s, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .withColumn("wq",
        floor(sqrt($"n".cast("double")) * 1048576.0).cast("long"))
      .withColumn("n_total", sum($"n").over(wAll))
      .withColumn("w_total", sum($"wq").over(wAll))
      // rate = 0.5·N / (√n_s · Σ√n) ≈ 0.5·N·2⁴⁰ / (wq·W), floored to a
      // 24-bit integer threshold (549755813888 = 0.5 · 2⁴⁰). wq·W is
      // multiplied in DOUBLE, not Long: with wq ≈ √n·2²⁰ the Long
      // product wraps around 10⁹-doc languages — Spark would wrap
      // silently where DuckDB errors, breaking both the rate and the
      // cross-engine bit-match (ADVICE r7). The double product is
      // bit-identical in both engines (one IEEE multiply of two
      // exactly-converted ≤2⁵³ integers) and only feeds a division
      // whose result is floored to 24 bits — a 1-ulp product
      // difference cannot move the floor except on exact-boundary
      // rates, which the quantization grid makes unrepresentable.
      .withColumn("thr6", floor(least(lit(1.0),
        ($"n_total".cast("double") * 549755813888.0) /
          ($"wq".cast("double") * $"w_total".cast("double")))
        * 16777216.0).cast("long"))
      .select($"lang", $"thr6")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        conv(substring(md5(concat(lit("tmix:"), $"doc_id".cast("string"))),
          1, 6), 16, 10).cast("long").as("u6"))
      .join(broadcast(rates), Seq("lang"))
      .select($"doc_id", $"lang", $"u6", $"thr6",
        when($"u6" < $"thr6", 1L).otherwise(0L).as("kept"))
      .orderBy($"doc_id")
  }

  /** Deterministic epoch shuffle + shard assignment — the last step
    * before training data leaves the engine: each epoch needs a
    * DIFFERENT but fully reproducible global order, materialized as N
    * shard files with a defined within-shard order (so any trainer rank
    * can re-read its shard byte-identically after a crash). Epoch-salted
    * md5 gives the permutation; the first hex nibble gives 16 shards
    * (uniform by construction); within-shard position is a window over
    * the shard partition — at scale that is one narrow shuffle keyed by
    * shard, the exact layout the shard writer needs anyway, and no
    * global sort ever happens. hexv via instr('0123456789abcdef', c)-1
    * so Spark and DuckDB agree bit-for-bit; the whole assignment incl.
    * positions is oracle-checked. */
  def epochShuffle(s: SparkSession, dir: String, epoch: Int = 3): DataFrame = {
    import s.implicits._
    val keyed = Tables.documents(s, dir)
      .select($"doc_id",
        md5(concat(lit(s"epoch:$epoch:"), $"doc_id".cast("string")))
          .as("shuffle_key"))
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring($"shuffle_key", 1, 1)) - 1)
          .cast("int"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"shuffle_key", $"doc_id")))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** Deterministic per-group k-sample of example ids via the graft-native
    * bottom-k sketch aggregate (functions.BottomKSample, a custom Catalyst
    * TypedImperativeAggregate): like the key-hash stratifiedSample, the
    * bottom-k result is a pure function of each group's value set —
    * identical on any cluster layout — but with an exact-k guarantee
    * instead of a Binomial rate. The splitmix64 rank is replayed by the
    * SQL oracle (SplitmixReplaySql.bottomkSampleSql); the contract
    * (uniformity, exactness ≤ k, partitioning invariance) is pinned in
    * SketchAggsSpec. The sampled keys are emitted as one comma-joined
    * string (bigints — exact as text): the driver's pandas comparer can
    * sort/hash scalars but crashes on raw array cells. */
  def bottomkSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        graft.functions.SketchAggs.bottomKSample($"l_orderkey", 5, 42L)
          .as("sk"),
        count(lit(1)).as("n_rows"))
      .select($"l_returnflag",
        array_join(transform($"sk", x => x.cast("string")), ",")
          .as("sample_keys"),
        $"n_rows")
      .orderBy($"l_returnflag")
  }

  /** Cross-source distinct-token overlap via KMV (bottom-k / theta-style)
    * sketch intersection — "how much vocabulary do every two sources
    * share?" answered with NO pairwise token join: one linear pass builds
    * a 256-entry bottom-k sketch per source (functions.BottomKSample over
    * xxhash64(token) — constant state, map-combinable), and all
    * |S|·(|S|−1)/2 pair estimates come from the sketches alone
    * (|S|·k rows total). The estimators are the standard KMV identities
    * (Beyer et al. 2007 / theta sketches): with K the k smallest ranks of
    * the UNION of two sketches, D̂_∪ = (k−1)/u(h_k) where u maps the
    * signed k-th rank into (0,1) via the exact-affine h·2⁻⁶⁴ + 0.5
    * (prioritySample's device), ρ̂ = |K ∩ A ∩ B|/k estimates jaccard, and
    * D̂_∩ = ρ̂·D̂_∪; a union smaller than k is EXACT. At 100 TB this is
    * the only viable shape for source-pair overlap matrices: sketches
    * congregate per source (bytes each), the token stream is read once,
    * and pair count never touches row count. Every stage is a pure
    * function of the (source, hash) set, so DuckDB replays the whole
    * pipeline — token hashes, ranks, per-source bottom-k, union ranks,
    * and the float estimators — bit-for-bit
    * (SplitmixReplaySql.sketchOverlapSql). The rank re-derivation on the
    * tiny exploded sketch frame uses a Scala UDF (splitmix64 needs
    * wrapping multiplies that ANSI-mode SQL arithmetic rejects);
    * |S|·k ≈ 5k rows, never the corpus. */
  /** Session-memoized per-source KMV sketches (one row per source, a
    * few KB total): the overlap query references the frame four times
    * (exploded ranks, source list ×2, union join), and an unpersisted
    * plan re-runs the corpus token-hash pass per reference — the
    * exactPairCache/ivfCentroids discipline, wired into
    * invalidateCache below. */
  private val sketchCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  def sketchOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 256
    val rank = udf((v: Long) =>
      graft.functions.SketchAggs.mix(v ^ graft.functions.SketchAggs.mix(42L)))
    val sketches = sketchCache.getOrElseUpdate((s, dir),
      graft.Caches.pin(Tables.documents(s, dir)
        .select($"source", explode(split($"text", " ")).as("tok"))
        .select($"source", xxhash64($"tok").as("hv"))
        .groupBy($"source")
        .agg(graft.functions.SketchAggs.bottomKSample($"hv", k, 42L)
          .as("sk"))))
    val ex = sketches
      .select($"source", explode($"sk").as("v"))
      .withColumn("r", rank($"v"))
    val srcs = ex.select($"source").distinct()
    val pr = srcs.select($"source".as("src_a"))
      .join(srcs.select($"source".as("src_b")), $"src_a" < $"src_b")
    val unionRanked = pr
      .join(ex, $"source" === $"src_a" || $"source" === $"src_b")
      .groupBy($"src_a", $"src_b", $"v", $"r")
      .agg(count(lit(1)).as("n_src"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src_a", $"src_b").orderBy($"r".asc, $"v".asc)))
      .filter($"rn" <= k)
    val scale = math.pow(2, -64)
    unionRanked
      .groupBy($"src_a", $"src_b")
      .agg(
        count(lit(1)).as("k_union"),
        sum(when($"n_src" === 2, 1L).otherwise(0L)).as("n_common"),
        max($"r").as("hk"))
      .select($"src_a", $"src_b", $"k_union", $"n_common",
        when($"k_union" < k, $"k_union".cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ($"hk".cast("double") * lit(scale) + lit(0.5)))
          .as("est_union"))
      .withColumn("jaccard_est",
        $"n_common".cast("double") / $"k_union".cast("double"))
      .withColumn("est_common", $"jaccard_est" * $"est_union")
      .orderBy($"src_a", $"src_b")
  }

  /** Snapshot novelty via KMV sketch difference — "how much of the new
    * batch's vocabulary is genuinely NEW against the standing corpus?",
    * the crawl-worth-keeping measure, per lang: documents split into
    * corpus (even doc_id) and batch (odd doc_id) snapshots, one
    * 256-entry bottom-k sketch per (lang, side), and the difference
    * estimated from sketches alone — D̂_novel = ρ_batch-only · D̂_∪ with
    * ρ from the k smallest union ranks (the sketchOverlap identities
    * applied to A∖B instead of A∩B). One linear token pass, no
    * batch×corpus token join, replayed bit-for-bit by
    * SplitmixReplaySql.sketchDeltaSql. */
  def sketchDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 256
    val rank = udf((v: Long) =>
      graft.functions.SketchAggs.mix(v ^ graft.functions.SketchAggs.mix(42L)))
    val ex = Tables.documents(s, dir)
      .select($"lang", pmod($"doc_id", lit(2L)).as("side"),
        explode(split($"text", " ")).as("tok"))
      .select($"lang", $"side", xxhash64($"tok").as("hv"))
      .groupBy($"lang", $"side")
      .agg(graft.functions.SketchAggs.bottomKSample($"hv", k, 42L).as("sk"))
      .select($"lang", $"side", explode($"sk").as("v"))
      .withColumn("r", rank($"v"))
    val scale = math.pow(2, -64)
    ex
      .groupBy($"lang", $"v", $"r")
      .agg(max($"side").as("mx"), min($"side").as("mn"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"lang").orderBy($"r".asc, $"v".asc)))
      .filter($"rn" <= k)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("k_union"),
        sum(when($"mn" === 1L, 1L).otherwise(0L)).as("n_batch_only"),
        sum(when($"mx" === 0L, 1L).otherwise(0L)).as("n_corpus_only"),
        max($"r").as("hk"))
      .select($"lang", $"k_union", $"n_batch_only", $"n_corpus_only",
        when($"k_union" < k, $"k_union".cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ($"hk".cast("double") * lit(scale) + lit(0.5)))
          .as("est_union"))
      .withColumn("est_novel",
        ($"n_batch_only".cast("double") / $"k_union".cast("double")) *
          $"est_union")
      .orderBy($"lang")
  }

  /** Deterministic weighted sample — priority sampling (Duffield,
    * Lund & Thorup): each row gets priority w/u with u a seeded uniform,
    * and the k highest-priority rows per group are kept, so inclusion
    * probability scales with weight. Unlike rand()-based samplers the
    * draw is a pure function of the ROW KEY (xxhash64), not of
    * partitioning — stable under re-runs, repartitions and backfills
    * (the hashSplit argument), and therefore fully oracle-checkable:
    * DuckDB replays the hash (XxhReplaySql.longHashStages) and the
    * float math bit-for-bit. Float discipline: u = h·2⁻⁶⁵ + 0.5 maps
    * the signed hash into [0.25, 0.75) — an affine map with an
    * exactly-representable scale, never zero — and priority is one
    * long→double conversion + one division, both correctly rounded and
    * engine-identical. Map-only + one top-k window: no shuffle beyond
    * the per-group rank at any scale. */
  def prioritySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = xxhash64($"doc_id").cast("double") *
      lit(math.pow(2, -65)) + lit(0.5)
    val w = Window.partitionBy($"lang")
      .orderBy($"priority".desc, $"doc_id".asc)
    Tables.documents(s, dir)
      .select($"lang", $"doc_id", $"n_chars",
        ($"n_chars".cast("double") / u).as("priority"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .orderBy($"lang", $"rk")
  }

  /** Exact edit-distance near-dup pairs over customer names — the
    * deletion-neighborhood (FastSS/SymSpell) join, operators/
    * EditDistanceJoin. Complete by the pigeonhole on deletion variants,
    * so the DuckDB oracle is the full brute-force levenshtein join (a
    * correctness statement no banding tier can make). c_name is the
    * classic entity-resolution shape: a constant prefix (which defeats
    * segment/q-gram blocking — every string shares it) plus a dense key
    * space where single-substitution neighbors genuinely exist. */
  def editdistPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
      .select($"c_custkey".cast("long").as("id"), $"c_name".as("name"))
    graft.operators.EditDistanceJoin.selfJoin(c, "id", "name", maxDist = 1)
      .orderBy($"a_id", $"b_id")
  }

  /** The reference's multiset common-word count (F3/Q5, a Scala UDF) over
    * blocked candidate pairs — the one operator kept as a UDF for
    * fidelity; its set-semantics twin is oracle-checked in linkpredPairs. */
  def multisetPairs(s: SparkSession, dir: String,
      maxPairEstimate: Long = 100000000L): DataFrame = {
    import s.implicits._
    import graft.functions.TextOps
    val d0 = Tables.documents(s, dir)
      .select($"doc_id", $"source", TextAnalysis.toks($"text").as("t"))
      .repartition(s.sparkContext.defaultParallelism)

    // Salted shuffle self-join on the block key (operators.SkewJoin):
    // `source` has ~10 distinct values, so an unsalted equi-join would put
    // each block's whole O(n²) pair set in ONE task — and the previous
    // broadcast(b) form shipped the entire corpus to every executor
    // (impossible at 100 TB). The shuffle key becomes (source, salt) with
    // source×SALTS cardinality; replication cost: b side ×SALTS in the
    // shuffle — linear, vs broadcast's ×executors copy.
    def pairsOf(d: DataFrame): DataFrame = {
      val a = d.select($"doc_id".as("a_id"), $"source", $"t".as("a_t"))
      val b = d.select($"doc_id".as("b_id"), $"source".as("b_source"),
        $"t".as("b_t"))
      graft.operators.SkewJoin.salted(a, b,
          $"source" === $"b_source" && $"a_id" < $"b_id",
          saltOn = $"a_id", salts = PAIR_SALTS)
        .select($"a_id", $"b_id", $"source",
          graft.functions.TextExprs.commonWordsMultiset($"a_t", $"b_t")
            .as("common_multiset"),
          TextOps.commonWordsSet($"a_t", $"b_t").as("common_set"))
        .filter($"common_multiset" >= 20)
    }

    // EXACT-TWIN COLLAPSE VALVE (r11, found by the 30× decade at 190×
    // for 30× data): identical (source, token-array) docs pair with
    // every partner identically, so the per-pair multiset UDF work
    // multiplies by dup². Classes collapse to one representative, the
    // blocked join runs rep-level, and member pairs inherit the
    // class-pair values; intra pairs evaluate the SAME expressions on
    // (t, t) — bit-identical to the direct form. Dup-light corpora keep
    // the direct plan. Probe memoized per session (operators.DupProbe).
    val dupFactor =
      graft.operators.DupProbe.dupFactor(d0, $"source", $"t")
    // LOUD pair-volume gate (r15 — caught by the first all-queries
    // sfp30 pass, where the disengaged valve left the full blocked
    // join: 20 blocks × C(7.5k, 2) ≈ 5.6e8 pairs × a ~100-token
    // multiset intersect each = a 180 s bench timeout, the one
    // unplanned failure of that run). Same posture as linkpredE2e's
    // gate: the blocked all-pairs MULTISET DEMO is quadratic in block
    // size by construction (it exists to pin the reference's F3/Q5
    // Seq.intersect semantics at pair scale); the branch-effective
    // pair mass is the member mass over dup² (the collapse valve's
    // rep-level join — the lshNearDupPairs nEff discipline), and past
    // the budget the production near-dup tiers (q_minhash_neardup,
    // q_similarity_join_p2) are the scale path, not this enumeration.
    // 1e8 ≈ 85 s of measured multiset-intersect throughput (6.2e7
    // pairs in 53 s at sfp10 — ~1.2e6 pairs/s) — comfortably past
    // every driver SF (sf0.1 ≈ 6.2e5), every twin decade (sf3
    // collapses to rep-level 6.2e5) and the measured-feasible 10×
    // distinct point, failing fast only where the enumeration itself
    // is the mistake (sfp30 ≈ 5.6e8).
    val blockMass = d0.groupBy($"source").agg(count(lit(1)).as("n"))
      .agg(coalesce(
        sum($"n".cast("double") * ($"n" - 1).cast("double")), lit(0.0)))
      .head.getDouble(0) / 2.0
    // The dup² discount models the collapse valve's rep-level join, so
    // it applies ONLY on the branch that takes the valve; the direct
    // branch (dupFactor < CollapseDupFactor) enumerates the FULL
    // blocked mass, and discounting there would under-estimate by up
    // to CollapseDupFactor² ≈ 2×, admitting ~2e8 real pairs against a
    // budget calibrated to 1e8 (r16, ADVICE).
    val valveEngaged =
      dupFactor >= graft.operators.DupProbe.CollapseDupFactor
    val effMass =
      if (valveEngaged) blockMass / (dupFactor * dupFactor) else blockMass
    require(effMass <= maxPairEstimate,
      f"multisetPairs: ~$effMass%.2g effective blocked pairs (member " +
        f"mass ${blockMass.toLong}%d" +
        (if (valveEngaged) f" over dup² = $dupFactor%.1f²" else
          f"; dup = $dupFactor%.1f below the collapse valve, direct " +
            "enumeration") + ") " +
        f"exceeds the $maxPairEstimate%d budget — the all-pairs " +
        "multiset demo is quadratic in block size by construction; at " +
        "this scale use the banded near-dup tiers (q_minhash_neardup, " +
        "q_similarity_join_p2) instead")
    val pairs =
      if (dupFactor < graft.operators.DupProbe.CollapseDupFactor) pairsOf(d0)
    else {
      val wTwin = Window.partitionBy($"source", $"t")
      val keyed = d0
        .withColumn("rep", min($"doc_id").over(wTwin))
        .withColumn("csize", count(lit(1)).over(wTwin))
      val memb = keyed.select($"rep", $"doc_id")
      val reps = keyed.filter($"doc_id" === $"rep")
      val repPairs = pairsOf(reps.select($"doc_id", $"source", $"t"))
      val cross = repPairs
        .join(memb.select($"rep".as("a_id"), $"doc_id".as("x")), "a_id")
        .join(memb.select($"rep".as("b_id"), $"doc_id".as("y")), "b_id")
        .select(least($"x", $"y").as("a_id"),
          greatest($"x", $"y").as("b_id"), $"source",
          $"common_multiset", $"common_set")
      val intra = reps.filter($"csize" >= 2)
        .select($"rep", $"source",
          graft.functions.TextExprs.commonWordsMultiset($"t", $"t")
            .as("common_multiset"),
          TextOps.commonWordsSet($"t", $"t").as("common_set"))
        .filter($"common_multiset" >= 20)
        .join(memb.select($"rep", $"doc_id".as("x")), "rep")
        .join(memb.select($"rep", $"doc_id".as("y")), "rep")
        .filter($"x" < $"y")
        .select($"x".as("a_id"), $"y".as("b_id"), $"source",
          $"common_multiset", $"common_set")
      cross.unionByName(intra)
    }
    pairs.orderBy($"a_id", $"b_id")
  }

  /** Salt fan-out for low-cardinality block-key self-joins (multisetPairs,
    * Embeddings.cosineNearDup). 16 × ~10 block keys ≈ 160 shuffle buckets
    * — enough parallelism for local[32] and a sane replication factor. */
  private[queries] val PAIR_SALTS = 16

  /** q_similarity_join_p2's input, built once per call and pinned: the
    * 0.5 Bernoulli sample (seed 12345) of the documents scan, spread
    * round-robin while it is still (doc_id, text), then tokenized to
    * distinct bigram-shingle sets, empty sets dropped. The dup probe and
    * both valve branches read this one checkpoint, so the scan and the
    * exchange run once, and the exchange moves the raw text rather than
    * the larger token array. The sample must stay on the scan, below the
    * exchange: a seeded Bernoulli draw depends on its input partitioning,
    * and prepareP2Oracle's replay embeds the ids drawn from the scan. */
  private[queries] def p2Input(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.pin(Tables.documents(s, dir)
      .sample(0.5, 12345L)
      .select($"doc_id", $"text")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .select($"doc_id",
        array_distinct(TextAnalysis.bigramShingles($"t")).as("sh"))
      .filter(size($"sh") > 0))
  }

  /** p2 (reference Predictor.scala:388-422), corrected: TF over bigram
    * shingles → seeded MinHash-LSH self-join → similarity ≥ threshold.
    *
    * Input is Bernoulli-sampled at 0.5 with the reference's own seed
    * (12345, S5): the reference pins p2 to ≤0.2 of the corpus on one
    * machine (Predictor.scala:26-28) because MLlib's approxSimilarityJoin
    * computes an exact key-distance for EVERY bucket-colliding candidate —
    * quadratic in the hot buckets. We run 2.5× the reference's feasible
    * fraction; the uncapped scale path is the native banding operator
    * (q_minhash_neardup), which verifies only deduped band candidates. */
  def similarityJoinP2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.feature.HashingTF
    val d = p2Input(s, dir)
    def selfJoinOf(dd: DataFrame): DataFrame = {
      val tf = new HashingTF().setInputCol("sh").setOutputCol("tf")
        .setNumFeatures(4096).transform(dd)
      graft.operators.SimilarityJoin
        .selfJoin(tf, "doc_id", "tf", threshold = 0.5, seed = 42L)
    }
    // EXACT-TWIN COLLAPSE VALVE (r11; the 50× decade measured this query
    // at 2.14 s → 185.6 s between sf0.1 and 50× — power ≈ 2.0 between
    // the 30× and 50× points, a true n² signature): identical shingle
    // SETS hash to identical HashingTF vectors, hence identical MinHash
    // signatures, hence co-residence in every LSH bucket — so MLlib's
    // approxSimilarityJoin exact-verifies every twin pair of every
    // bucket. The reference-shape selfJoin operator (Q1/Q2 pinned) runs
    // UNCHANGED on one representative per class; member pairs inherit
    // the class-pair similarity (identical vectors → identical MLlib
    // keyDistance), and intra-twin pairs get similarity 1.0 − 0.0 —
    // exactly what keyDistance returns for identical vectors, which the
    // direct join always surfaces (twins co-bucket in every table).
    // The probe scans the pinned input both branches join. Each call pins
    // afresh (a new plan hash), so p2 probes its own pinned input on each
    // call instead of hitting DupProbe's session memo.
    val dupFactor = graft.operators.DupProbe.dupFactor(d, $"sh")
    val pairs =
      if (dupFactor < graft.operators.DupProbe.CollapseDupFactor)
        selfJoinOf(d)
    else {
      // hash-prefixed twin key (the r14 lshTopKCollapsed discipline)
      val wTwin = Window.partitionBy($"__vh", $"sh")
      val keyed = d
        .withColumn("__vh", xxhash64($"sh"))
        .withColumn("rep", min($"doc_id").over(wTwin))
        .withColumn("csize", count(lit(1)).over(wTwin))
      val memb = keyed.select($"rep", $"doc_id")
      val reps = keyed.filter($"doc_id" === $"rep")
        .select($"doc_id", $"sh")
      val repPairs = selfJoinOf(reps)
      val cross = repPairs
        .join(memb.select($"rep".as("a_id"), $"doc_id".as("x")), "a_id")
        .join(memb.select($"rep".as("b_id"), $"doc_id".as("y")), "b_id")
        .select(least($"x", $"y").as("a_id"),
          greatest($"x", $"y").as("b_id"), $"similarity")
      val intra = keyed.filter($"doc_id" === $"rep" && $"csize" >= 2)
        .select($"rep", (lit(1.0) - lit(0.0)).as("similarity"))
        .join(memb.select($"rep", $"doc_id".as("x")), "rep")
        .join(memb.select($"rep", $"doc_id".as("y")), "rep")
        .filter($"x" < $"y")
        .select($"x".as("a_id"), $"y".as("b_id"), $"similarity")
      cross.unionByName(intra)
    }
    pairs.orderBy($"a_id", $"b_id")
  }

  /** MinHash+LSH banding near-dup (graft-native, no MLlib) over documents.
    *
    * Banding calibrated to the verify threshold: the LSH S-curve midpoint
    * is (1/b)^(1/r); with k=32, b=8, r=4 that is ≈0.59 — matched to the
    * 0.5 exact-Jaccard cutoff. The previous b=16/r=2 (midpoint ≈0.25)
    * admitted every moderately-similar pair as a candidate: measured at
    * sf0.1, 213k candidates for 256 surviving pairs — the exact-verify
    * stage was 800× over-provisioned and dominated the query (8.6 s). At
    * b=8/r=4: 491 candidates, the SAME 256 result rows, ~3× faster
    * end-to-end. At 100 TB this calibration is the difference between a
    * verify join on ~0.001% of pairs and one on ~2% of all pairs. */
  def minhashNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashCandidates(s, dir)
      .filter($"jaccard" >= 0.5)
      .orderBy($"a_id", $"b_id")
  }

  /** Session-materialized minhash banding candidates WITH exact jaccard
    * at threshold 0 (r16, the exactNearDupPairs discipline applied to
    * the banding tier): the full banded pipeline at the corpus's pinned
    * parameters (shingleN 2, k 32, bands 8) runs ONCE per (session,
    * dir) and serves four consumers — q_minhash_neardup and
    * q_neardup_recall filter jaccard ≥ 0.5 (bit-identical to the
    * operator's own terminal threshold filter), q_retrieval_eval and
    * the ANN-e2e candidate tier consume the threshold-0 frame directly.
    * At sfp100 each consumer previously paid the ~30 s banding cold
    * independently. Dropped by invalidateCache (stale-on-rewrite). */
  private val minhashCandCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    minhashCandCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      val d = Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.toks($"text").as("tokens"))
        .repartition(s.sparkContext.defaultParallelism)
      graft.Caches.pin(graft.operators.Dedup
        .minhashNearDup(d, "doc_id", "tokens", shingleN = 2,
          k = 32, bands = 8, threshold = 0.0))
    })

  /** Driver-visible recall gate for the MinHash banding tier: every exact
    * same-lang n-gram-Jaccard pair at 0.7 — the threshold where the
    * b=8/r=4 S-curve makes recall deterministic with the fixed band seeds
    * (NearDupCrossGateSpec proves it corpus-wide) — flagged with whether
    * the approximate pipeline surfaced it. The DuckDB oracle recomputes
    * the exact pairs and asserts found=1 on every row, so a single banding
    * miss breaks the hash match: the spec-level cross-gate, turned into
    * per-round driver evidence.
    *
    * Scale: the exact side reuses the session-materialized df-capped pair
    * frame (TextAnalysis.scoredNearDupPairs — a filter, no new join); the
    * approximate side is the bucketed banding join; the final left join is
    * on the tiny pair frames. */
  def neardupRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = TextAnalysis.ngramJaccardPairs(s, dir, threshold = 0.7)
    val approx = minhashCandidates(s, dir)
      .filter($"jaccard" >= 0.5)
      .select($"a_id", $"b_id", lit(1L).as("__hit"))
    exact.join(approx, Seq("a_id", "b_id"), "left_outer")
      .select($"a_id", $"b_id", $"lang", $"jaccard",
        coalesce($"__hit", lit(0L)).as("found"))
      .orderBy($"a_id", $"b_id")
  }

  /** The ten rank-discount constants 1/log₂(rank+1), rank 1..10, and
    * their left-assoc cumulative sums (ideal DCG at n_gold = 1..10) —
    * shared verbatim with the DuckDB replay (XxhReplaySql embeds the
    * SAME doubles as literals), so nDCG parity needs no cross-engine
    * libm agreement: both sides add identical literals in identical
    * left-assoc order. */
  val NdcgDiscounts: Seq[Double] =
    // StrictMath (ADVICE r16): math.log is only 1-ulp-accurate and may
    // differ across JVMs/architectures; StrictMath is bit-specified
    // (fdlibm), so a persisted q_retrieval_eval hash re-verifies
    // identically on any platform.
    (1 to 10).map(i => 1.0 / (StrictMath.log(i + 1.0) / StrictMath.log(2.0)))
  val NdcgIdcgCum: Seq[Double] = NdcgDiscounts.scanLeft(0.0)(_ + _).tail

  /** Retrieval-quality evaluation of the MinHash candidate tier against
    * exact-Jaccard gold — tier-quality measurement AS A QUERY (VERDICT
    * r15 #3): per query document, recall@10 / MRR / nDCG@10 of the
    * banding tier's candidates (reranked by exact jaccard) against the
    * top-10 exact-jaccard neighbors.
    *
    * Determinism for the oracle hash: ranks break ties (jaccard DESC,
    * id ASC) on bit-identical jaccard doubles (the q_minhash_neardup
    * replay device); DCG is a LEFT-ASSOC literal chain over per-rank
    * 0/1 relevance flags (r1·d1 + r2·d2 + …, the LrReplaySql dot-chain
    * discipline) — never a float SUM whose order an engine could pick;
    * MRR is one division by the integer first-relevant rank; IDCG is a
    * literal lookup by n_gold. So every emitted double is a pure
    * function of integer flags and shared literals.
    *
    * Scale: the system side is the banded candidate join (corpus-
    * linear); the exact gold side is NOT a query×corpus scan — a pair
    * has jaccard > 0 iff it shares ≥ 1 shingle, so gold candidates come
    * from an inverted-index EQUI-join on shingle (query shingles
    * broadcast, corpus shingles streamed), then one exact jaccard per
    * surviving pair. The repo's no-nested-loop plan guard (QueriesSpec)
    * holds on this query like every other; at 100 TB the query sample
    * is the knob and the posting join is corpus-linear. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextOps
    val NQ = 20L; val K = 10
    val d0 = Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.toks($"text").as("tokens"))
      .repartition(s.sparkContext.defaultParallelism)
    // identical shingling to Dedup.minhashNearDup (and the shd CTE)
    val shingled = d0.filter(size($"tokens") >= 2)
      .select($"doc_id".as("id"),
        array_distinct(TextOps.shingles($"tokens", 2)).as("sh"))
    val q = shingled.filter($"id" < NQ)
      .select($"id".as("q_id"), $"sh".as("q_sh"))
    // gold candidates: docs sharing ≥ 1 shingle with the query (the
    // inverted-index form — jaccard > 0 ⟺ a common shingle exists).
    // |A∩B| is COUNTED from the posting join itself (both shingle sets
    // are array_distinct, so each shared shingle is exactly one joined
    // row) — r18, guide §2.3 "shuffle keys, not payloads": the old form
    // ran the posting join only to find candidate ids, then re-attached
    // BOTH full shingle arrays per pair through two more joins to
    // array_intersect what the posting join had already enumerated. The
    // per-pair division below consumes the same integers (inter,
    // |q_sh|, |sh|) in the same order, so every jaccard double — and
    // hence every rank, flag, and emitted metric — is bit-identical.
    val goldInter = shingled
      .select($"id", explode($"sh").as("shingle"))
      .join(broadcast(q.select($"q_id", explode($"q_sh").as("shingle"))),
        "shingle")
      .filter($"id" =!= $"q_id")
      .groupBy($"q_id", $"id").agg(count(lit(1)).as("inter"))
    val sizes = shingled.select($"id", size($"sh").as("n_sh"))
    val qSizes = q.select($"q_id", size($"q_sh").as("q_n"))
    val goldAll = goldInter
      .join(sizes, "id")
      .join(broadcast(qSizes), "q_id")
      .select($"q_id", $"id",
        ($"inter".cast("double") /
          ($"q_n" + $"n_sh" - $"inter").cast("double")).as("jaccard"))
      .filter($"jaccard" > 0.0)
    val wg = Window.partitionBy($"q_id").orderBy($"jaccard".desc, $"id".asc)
    val gold10 = goldAll.withColumn("grank", row_number().over(wg))
      .filter($"grank" <= K)
    val goldAgg = gold10.groupBy($"q_id")
      .agg(count(lit(1)).as("n_gold"))
      .withColumn("idcg", (2 to K).foldLeft(
        when($"n_gold" === 1, lit(NdcgIdcgCum.head))) {
        case (c, i) => c.when($"n_gold" === i, lit(NdcgIdcgCum(i - 1)))
      })
    // system side: the banding tier's candidates (threshold 0 = the
    // candidate set itself), reranked by their exact jaccard — the
    // session-materialized frame (one banding pass for four consumers)
    val cand = minhashCandidates(s, dir)
    val sysPairs = cand.filter($"a_id" < NQ)
      .select($"a_id".as("q_id"), $"b_id".as("id"), $"jaccard")
      .unionByName(cand.filter($"b_id" < NQ)
        .select($"b_id".as("q_id"), $"a_id".as("id"), $"jaccard"))
    val ws = Window.partitionBy($"q_id").orderBy($"jaccard".desc, $"id".asc)
    val sys10 = sysPairs.withColumn("rank", row_number().over(ws))
      .filter($"rank" <= K)
    val sysRel = sys10
      .join(gold10.select($"q_id", $"id", lit(1).as("rel")),
        Seq("q_id", "id"), "left_outer")
      .select($"q_id", $"rank", coalesce($"rel", lit(0)).as("rel"))
    val sysAgg = sysRel.groupBy($"q_id").agg(
      max(when($"rank" === 1, $"rel").otherwise(lit(0))).as("r1"),
      (2 to K).map(i =>
        max(when($"rank" === i, $"rel").otherwise(lit(0))).as(s"r$i")) ++
        Seq(sum($"rel").as("n_hits"),
          min(when($"rel" === 1, $"rank")).as("first_rel")): _*)
    val dcg = (1 to K).map(i =>
      coalesce(col(s"r$i"), lit(0)).cast("double") *
        lit(NdcgDiscounts(i - 1))).reduceLeft(_ + _)
    goldAgg.join(sysAgg, Seq("q_id"), "left_outer")
      .select($"q_id", $"n_gold",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") /
          $"n_gold".cast("double")).as("recall_at_10"),
        coalesce(lit(1.0) / $"first_rel".cast("double"), lit(0.0))
          .as("mrr"),
        (dcg / $"idcg").as("ndcg_at_10"))
      .orderBy($"q_id")
  }

  /** SimHash Hamming-distance near-dup over documents. */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.toks($"text").as("tokens"))
      .repartition(s.sparkContext.defaultParallelism)
    graft.operators.Dedup.simhashNearDup(d, "doc_id", "tokens", maxHamming = 6)
      .orderBy($"a_id", $"b_id")
  }

  /** Driver-visible recall gate for the SimHash tier — the last near-dup
    * tier without one (MinHash has q_neardup_recall, sign-LSH has
    * q_lsh_recall, IVF has q_ivf_recall). Same exact-pair universe as
    * q_neardup_recall (n-gram Jaccard ≥ 0.7, reusing the session-
    * materialized scored pair frame), each pair flagged with `covered`:
    *
    *   covered = found-by-SimHash  OR  hamming(fp_a, fp_b) > 3
    *
    * The 4×16-bit pigeonhole blocking GUARANTEES detection at Hamming
    * ≤ 3 (Dedup.simhashNearDup) — so `covered` = 0 exactly when the tier
    * missed a pair it provably must find, and the oracle pins covered=1
    * on the DuckDB-recomputed exact pair set. Deterministic under corpus
    * drift, unlike an empirical found=1 pin: pairs outside the Hamming
    * bound are covered by construction, not by measured luck, and the
    * gate's non-vacuity (guaranteed pairs exist and are found) is pinned
    * separately in NearDupCrossGateSpec. A broken banding/fingerprint path drives
    * covered to 0 on the guaranteed pairs and breaks the hash match. */
  def simhashRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = TextAnalysis.ngramJaccardPairs(s, dir, threshold = 0.7)
    val d = Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.toks($"text").as("tokens"))
      .repartition(s.sparkContext.defaultParallelism)
    val fp = d.select($"doc_id", graft.operators.Dedup.simhash($"tokens").as("fp"))
    val approx = graft.operators.Dedup
      .simhashNearDup(d, "doc_id", "tokens", maxHamming = 6)
      .select($"a_id", $"b_id", lit(1L).as("__hit"))
    exact
      .join(fp.select($"doc_id".as("a_id"), $"fp".as("a_fp")), "a_id")
      .join(fp.select($"doc_id".as("b_id"), $"fp".as("b_fp")), "b_id")
      .join(approx, Seq("a_id", "b_id"), "left_outer")
      .select($"a_id", $"b_id", $"lang", $"jaccard",
        greatest(coalesce($"__hit", lit(0L)),
          when(graft.operators.Dedup.hamming($"a_fp", $"b_fp") > 3, lit(1L))
            .otherwise(lit(0L))).as("covered"))
      .orderBy($"a_id", $"b_id")
  }

  /** Sign-LSH bucketed approximate top-k over embeddings — the
    * EXPLORATORY ANN tier (recall vs the exact bruteTopK is asserted in
    * ExtendedSpec). Parameters sized for this corpus: uniform random
    * 64-dim embeddings put true top-k neighbors at cosine ≈ 0.4
    * (θ ≈ 66°, per-hyperplane collision ≈ 0.63) — 6-bit signatures over
    * 16 tables give candidate recall ≈ 1-(1-0.63⁶)¹⁶ ≈ 0.65 while
    * probing ~22% of the corpus.
    *
    * SCALE POSTURE (r16, VERDICT r15 #1 — decided): with (nBits,
    * nTables) fixed, the probed fraction is scale-invariant, so the
    * exact re-rank mass is linear in corpus size PER QUERY with a
    * brute-force-fraction constant (measured 36× warm for 100× vectors
    * at sfp100, vs 3.7-4.2× for the fitted quantization tiers —
    * SCALE_r15 §7), and widening nBits with the corpus is NOT
    * recall-safe at top-k cosines (p⁹ ≈ 0.016/table at ~0.4). The tier
    * therefore carries an analytic rerank-mass gate
    * (Ann.MaxLshTopKRerankEstimate) that fails fast past the budget
    * naming q_ivf_topk / q_pq_topk / q_ivfpq_topk as the scale path —
    * gate-or-supersede, landed as gate. Pinned in AnnSpec (fires, names
    * the tiers, schedules no shuffle first). */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    graft.operators.Ann.lshTopK(e, q, k = 5, nTables = 16, nBits = 6)
      .orderBy($"q_id", $"rank")
  }

  /** Session-memoized IVF centroids per (session, dir) at the pinned
    * quantizer parameters (nCells 16, 1 Lloyd pass, seed 42) —
    * estimator-state reuse: q_ivf_topk, q_ivf_recall, and the replay
    * oracle all share ONE fit. Beyond saving the refit, this is what
    * makes the q_ivf_topk oracle sound: the Lloyd mean is a distributed
    * float aggregate whose ulps can vary between fits, so the oracle
    * must embed exactly the centroid doubles the query run used — the
    * bpeModels device applied to the quantizer. */
  private val ivfCentroids = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[Array[Double]]]

  def ivfCentroidsFor(s: SparkSession, dir: String): Seq[Array[Double]] =
    ivfCentroids.getOrElseUpdate((s, dir), {
      import s.implicits._
      val cv = Tables.embeddings(s, dir)
        .select($"vec_id".as("id"),
          $"embedding".cast("array<double>").as("v"))
        .repartition(s.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.operators.Ann.ivfFit(cv, nCells = 16, lloydIters = 1,
        seed = 42)
      finally cv.unpersist(blocking = false)
    })

  /** Drop this session's memoized quantizer fits — same stale-on-rewrite
    * contract as TextAnalysis/Embeddings/GraphQueries.invalidateCache
    * (ADVICE r13): after a dir rewrite, q_ivf_topk must refit rather
    * than silently reuse centroids from the old corpus. */
  def invalidateCache(s: SparkSession): Unit = {
    ivfCentroids.keys.filter(_._1 eq s).foreach(ivfCentroids.remove)
    pqCodebooks.keys.filter(_._1 eq s).foreach(pqCodebooks.remove)
    ivfPqCodebooks.keys.filter(_._1 eq s).foreach(ivfPqCodebooks.remove)
    lpAnnModels.keys.filter(_._1 eq s).foreach(lpAnnModels.remove)
    lpE2eModels.keys.filter(_._1 eq s).foreach(lpE2eModels.remove)
    sketchCache.keys.filter(_._1 eq s).foreach { key =>
      sketchCache.remove(key).foreach(_.unpersist(blocking = false))
    }
    minhashCandCache.keys.filter(_._1 eq s).foreach { key =>
      minhashCandCache.remove(key).foreach(_.unpersist(blocking = false))
    }
  }

  /** IVF (inverted-file) approximate top-k over embeddings — the second
    * ANN scale path next to lshTopK (coarse k-means quantizer, nProbe of
    * nCells cells probed; full-probe exactness + recall pinned in
    * AnnSpec; r13: hash-checked against the centroid-replay oracle). */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    graft.operators.Ann.ivfTopKWith(ivfCentroidsFor(s, dir), e, q,
        k = 5, nProbe = 8)
      .orderBy($"q_id", $"rank")
  }

  /** Driver-visible exactness gate for the IVF tier: at nProbe = nCells
    * every cell is probed, so the quantizer/probe/re-rank machinery must
    * reproduce brute force exactly — the oracle is q_cosine_topk's exact
    * SQL, and the bit-compare is the proof (AnnSpec pins the same
    * equality operator-level; this pins it per round on the real
    * corpus). Same cosine expression and (cosine desc, id asc) tie-break
    * as the brute path, so the doubles and ranks are bit-identical.
    * Exactness holds for ANY centroid set at full probe, so sharing the
    * memoized fit is free. */
  def ivfRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    graft.operators.Ann.ivfTopKWith(ivfCentroidsFor(s, dir), e, q,
        k = 5, nProbe = 16)
      .select($"q_id", $"id".as("vec_id"), $"cosine", $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** The q_similarity_join_p2 oracle SQL, set by Verify via
    * prepareP2Oracle before the dump; None (rows-only fallback) until
    * then. */
  @volatile private var p2Oracle: Option[String] = None

  def p2OracleSqlEntry: Map[String, String] =
    p2Oracle.map("q_similarity_join_p2" -> _).toMap

  /** Build the q_similarity_join_p2 replay oracle (r14): everything
    * downstream of the Bernoulli sample is a pure function of (text,
    * MinHash coefficients), so DuckDB replays shingling, HashingTF's
    * Murmur3, the 3-table signature mins, the OR-construction candidate
    * join, and the exact index-set Jaccard (Murmur3ReplaySql). The two
    * session facts embed as literals, the centroid-embed discipline:
    * the sampled doc_id set, collected from the SAME plan prefix the
    * query evaluates (S5's sampler is deterministic per (seed, split)
    * given identical input files), and the coefficient pairs read via
    * reflection off a model fitted by the query's own fitMinHash.
    * Bounded: the collect is half of documents, ~250 ids at the verify
    * SF; anything past the cap falls back to rows-only. */
  def prepareP2Oracle(s: SparkSession, dir: String): Unit = {
    p2Oracle = None
    import s.implicits._
    val ids = Tables.documents(s, dir).sample(0.5, 12345L)
      .select($"doc_id").as[Long].collect()
    if (ids.isEmpty || ids.length > 100000) return
    val one = Seq(Tuple1(org.apache.spark.ml.linalg.Vectors.sparse(
      4096, Array(0), Array(1.0)))).toDF("tf")
    val coefs = graft.operators.SimilarityJoin.randCoefficientsOf(
      graft.operators.SimilarityJoin.fitMinHash(one, "tf",
        numHashTables = 3, seed = 42L))
    p2Oracle = Some(graft.Murmur3ReplaySql.similarityJoinP2Sql(
      ids.toIndexedSeq, coefs.toIndexedSeq))
  }

  /** The q_ivf_topk oracle SQL, set by Verify via prepareIvfOracle
    * before the dump; None (rows-only fallback) until then. */
  @volatile private var ivfOracle: Option[String] = None

  def ivfOracleSqlEntry: Map[String, String] =
    ivfOracle.map("q_ivf_topk" -> _).toMap

  /** Build the q_ivf_topk replay oracle from the session-memoized
    * centroids — the fitted quantizer state is driver-known doubles, so
    * DuckDB independently replays assignment (argmax (s, cell) — the
    * array_max struct order), the nProbe probe list (the
    * reverse(array_sort) slice order), and the exact cosine re-rank.
    * Centroid doubles embed via Double.toString (shortest round-trip
    * repr; DuckDB's parse is correctly rounded, so the bits survive). */
  def prepareIvfOracle(s: SparkSession, dir: String): Unit = {
    ivfOracle = None  // a failed prepare must fall back to rows-only
    val cs = ivfCentroidsFor(s, dir)
    ivfOracle = if (cs.isEmpty) None else Some(buildIvfOracleSql(cs))
  }

  private[graft] def buildIvfOracleSql(
      centroids: Seq[Array[Double]]): String = {
    // strict in-order left-fold dot against a literal centroid — the
    // DotProduct expression's pinned numeric contract (SparkEntry.dotSql)
    def cdot(c: Array[Double]): String = {
      // sqlDouble: exponent-form literals lex as DOUBLE (bare decimals
      // parse as DECIMAL and can round to an inferred common scale)
      val lit = c.map(graft.SparkEntry.sqlDouble).mkString("[", ",", "]")
      s"list_reduce(list_transform(generate_series(1, ${c.length}), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * ($lit)[i]), (x, y) -> x + y)"
    }
    def selfDot(a: String) =
      s"list_reduce(list_transform(generate_series(1, len($a.embedding)), " +
        s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE)), " +
        s"(x, y) -> x + y)"
    def pairDot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, len($a.embedding)), " +
        s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)), " +
        s"(x, y) -> x + y)"
    val scoredArms = centroids.zipWithIndex.map { case (c, i) =>
      s"SELECT vec_id, $i AS cell, ${cdot(c)} AS s FROM embeddings"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH scored AS (
       |  $scoredArms
       |), assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |    FROM scored)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |    FROM scored WHERE vec_id < 10)
       |  WHERE rn <= 8
       |), e AS (
       |  SELECT vec_id, embedding, sqrt(${selfDot("embeddings")}) AS nrm
       |  FROM embeddings
       |), cand AS (
       |  SELECT p.q_id, a.vec_id AS id
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id != p.q_id
       |), pairs AS (
       |  SELECT cand.q_id, cand.id,
       |    ${pairDot("qe", "ce")} / (qe.nrm * ce.nrm) AS cosine
       |  FROM cand
       |  JOIN e ce ON ce.vec_id = cand.id
       |  JOIN e qe ON qe.vec_id = cand.q_id
       |), ranked AS (
       |  SELECT q_id, id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, id ASC) AS rank
       |  FROM pairs
       |)
       |SELECT q_id, id, cosine, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // Product quantization (q_pq_topk / q_pq_recall)

  /** Session-memoized PQ codebooks — the ivfCentroids discipline: Lloyd
    * means are distributed float aggregates whose ulps can vary between
    * fits, so the query runs and the replay oracle must share ONE fit,
    * with the fitted doubles embedded as oracle literals. 8 subspaces ×
    * 8 dims × 64 centroids (48 code bits) over unit-normalized
    * embeddings — 64 was tuned on the real corpora (uniform random
    * vectors, PQ's structureless worst case): shortlist-recall@50 at
    * sf0.01 read 0.78 / 0.88 / 0.94 for kSub 32 / 64 / 64+4iters. */
  private val pqCodebooks = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[Seq[Array[Double]]]]

  val PqMSub = 8
  val PqDSub = 8
  val PqKSub = 64

  def pqCodebooksFor(s: SparkSession, dir: String): Seq[Seq[Array[Double]]] =
    pqCodebooks.getOrElseUpdate((s, dir), {
      import s.implicits._
      val nv = Tables.embeddings(s, dir)
        .select($"vec_id".as("id"),
          $"embedding".cast("array<double>").as("v"))
        .withColumn("nrm", Embeddings.norm($"v"))
        .filter($"nrm" > 0)
        .select($"id", transform($"v", x => x / $"nrm").as("vh"))
        .repartition(s.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.operators.Ann.pqFit(nv, PqMSub, PqDSub, PqKSub,
        lloydIters = 4, seed = 42)
      finally nv.unpersist(blocking = false)
    })

  /** Product-quantization ADC approximate top-k — the third ANN scale
    * path (8-byte codes vs 256-byte raw vectors: the 32× scan-width
    * compression that makes billion-vector search layouts feasible).
    * Encode/decode are literal codegen chains, the query side is
    * broadcast, the only shuffle is the final per-query top-k window.
    * Hash-checked against the codebook-embed replay oracle (r14). */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    graft.operators.Ann.pqTopKWith(pqCodebooksFor(s, dir), PqDSub, e, q,
        k = 5)
      .orderBy($"q_id", $"rank")
  }

  /** Driver-visible quality gate for the PQ tier: SHORTLIST recall —
    * how much of the exact cosine top-5 survives in the ADC top-50
    * shortlist. This is the metric that matters in the production
    * shape (FAISS-style refine: ADC selects a small shortlist, exact
    * re-rank on raw vectors finishes the job), and unlike IVF there is
    * no lossless degenerate to pin (quantization always loses bits),
    * so the gate measures the loss — hash-checked, because the replay
    * oracle recomputes BOTH sides (PQ from the embedded codebooks,
    * exact from the raw parquet). AnnSpec pins the sf0.001 floor; the
    * driver artifact records the real corpus numbers per round. */
  val PqShortlist = 50

  def pqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    val shortlist = graft.operators.Ann
      .pqTopKWith(pqCodebooksFor(s, dir), PqDSub, e, q, k = PqShortlist)
      .select($"q_id", $"id")
    val exact = graft.operators.Ann.bruteTopK(e, q, k = 5)
      .select($"q_id", $"id")
    val hits = shortlist.join(exact, Seq("q_id", "id"))
      .groupBy($"q_id").agg(count(lit(1)).as("hits"))
    q.select($"id".as("q_id")).join(hits, Seq("q_id"), "left")
      .select($"q_id", coalesce($"hits", lit(0L)).as("hits"),
        (coalesce($"hits", lit(0L)) / lit(5.0)).as("recall"))
      .orderBy($"q_id")
  }

  /** The q_pq_topk / q_pq_recall oracle SQL, set by Verify via
    * preparePqOracle; empty (rows-only fallback) until then. */
  @volatile private var pqOracle: Map[String, String] = Map.empty

  def pqOracleSqlEntry: Map[String, String] = pqOracle

  def preparePqOracle(s: SparkSession, dir: String): Unit = {
    pqOracle = Map.empty
    val cb = pqCodebooksFor(s, dir)
    if (cb.nonEmpty && cb.forall(_.nonEmpty))
      pqOracle = Map(
        "q_pq_topk" -> buildPqTopKOracleSql(cb),
        "q_pq_recall" -> buildPqRecallOracleSql(cb))
  }

  /** Strict in-order left-fold dot of a subvector window against a
    * literal centroid — SparkEntry.dotSql's pinned convention over
    * vh[off+1 .. off+dSub]. */
  private def pqSubDot(off: Int, c: Array[Double]): String = {
    val clit = c.map(graft.SparkEntry.sqlDouble).mkString("[", ",", "]")
    s"list_reduce(list_transform(generate_series(1, ${c.length}), " +
      s"i -> vh[$off + i] * ($clit)[i]), (x, y) -> x + y)"
  }

  /** Shared replay CTE chain: normalize → encode (argmax of
    * dot − ½|c|² per subspace, ties → larger cell, the pqCellOf struct
    * order) → reconstruct (codebook lookup, subspaces concatenated in
    * order) → ADC dot → per-query rank window. Ends with `pqtop`
    * (q_id, id, adc, rank ≤ 5). Every double the two engines don't
    * independently recompute (the codebooks, the ½|c|² constants) is a
    * driver-evaluated literal embedded in both plans. */
  private[graft] def pqReplayCtes(cb: Seq[Seq[Array[Double]]]): String = {
    val dSub = PqDSub
    val scoredArms = cb.indices.flatMap { m =>
      cb(m).zipWithIndex.map { case (c, i) =>
        val halfCC = 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)
        s"SELECT vec_id, $m AS m, $i AS cell, " +
          s"${pqSubDot(m * dSub, c)} - $halfCC AS s FROM nv"
      }
    }.mkString("\n  UNION ALL\n  ")
    val cbRows = cb.indices.flatMap { m =>
      cb(m).zipWithIndex.map { case (c, i) =>
        s"($m, $i, " +
          s"${c.map(graft.SparkEntry.sqlDouble).mkString("[", ",", "]")})"
      }
    }.mkString(",\n    ")
    s"""WITH raw AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${graft.SparkEntry.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), nv AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS vh
       |  FROM raw WHERE nrm > 0
       |), scored AS (
       |  $scoredArms
       |), codes AS (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT vec_id, m, cell,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY s DESC, cell DESC) AS rn
       |    FROM scored)
       |  WHERE rn = 1
       |), cbt AS (
       |  SELECT * FROM (VALUES
       |    $cbRows) t(m, cell, cv)
       |), recon AS (
       |  SELECT codes.vec_id, flatten(list(cbt.cv ORDER BY codes.m)) AS rv
       |  FROM codes JOIN cbt ON cbt.m = codes.m AND cbt.cell = codes.cell
       |  GROUP BY codes.vec_id
       |), qn AS (
       |  SELECT vec_id AS q_id, vh AS qh FROM nv WHERE vec_id < 10
       |), adcpairs AS (
       |  SELECT qn.q_id, recon.vec_id AS id,
       |    list_reduce(list_transform(generate_series(1, len(qh)),
       |      i -> qh[i] * rv[i]), (x, y) -> x + y) AS adc
       |  FROM recon JOIN qn ON recon.vec_id != qn.q_id
       |), pqtop AS (
       |  SELECT q_id, id, adc,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, id ASC) AS rank
       |  FROM adcpairs
       |)""".stripMargin
  }

  private[graft] def buildPqTopKOracleSql(
      cb: Seq[Seq[Array[Double]]]): String =
    pqReplayCtes(cb) +
      "\nSELECT q_id, id, adc, rank FROM pqtop WHERE rank <= 5 " +
      "ORDER BY q_id, rank"

  private[graft] def buildPqRecallOracleSql(
      cb: Seq[Seq[Array[Double]]]): String =
    pqReplayCtes(cb) +
      s""",
         |exact AS (
         |  SELECT q_id, id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${graft.SparkEntry.dotSql("q.embedding", "c.embedding")}
         |          / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
         |    FROM raw c JOIN raw q ON q.vec_id < 10 AND c.vec_id != q.vec_id)
         |  WHERE rn <= 5
         |), hits AS (
         |  SELECT pqtop.q_id, count(*) AS hits
         |  FROM pqtop JOIN exact
         |    ON exact.q_id = pqtop.q_id AND exact.id = pqtop.id
         |  WHERE pqtop.rank <= $PqShortlist
         |  GROUP BY pqtop.q_id
         |)
         |SELECT q.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall
         |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN hits h ON h.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin

  // -------------------------------------------------------------------
  // IVF-PQ (q_ivfpq_topk / q_ivfpq_recall) — the composed tier

  /** Session-memoized RESIDUAL codebooks for the IVF-PQ tier, trained
    * on vh − coarse(cell) against the SAME memoized coarse quantizer
    * q_ivf_topk uses (ivfCentroidsFor — one coarse fit serves three
    * queries and two oracles). Same (8 × 8 × 64) geometry as the plain
    * PQ tier so the two ADC scans differ ONLY in residual coding +
    * cell pruning — which is exactly the comparison q_ivfpq_recall vs
    * q_pq_recall measures. */
  private val ivfPqCodebooks = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[Seq[Array[Double]]]]

  def ivfPqCodebooksFor(s: SparkSession,
      dir: String): Seq[Seq[Array[Double]]] =
    ivfPqCodebooks.getOrElseUpdate((s, dir), {
      import s.implicits._
      val coarse = ivfCentroidsFor(s, dir)
      if (coarse.isEmpty) Seq.empty
      else {
        val nv = Tables.embeddings(s, dir)
          .select($"vec_id".as("id"),
            $"embedding".cast("array<double>").as("v"))
          .withColumn("nrm", Embeddings.norm($"v"))
          .filter($"nrm" > 0)
          .select($"id", transform($"v", x => x / $"nrm").as("vh"))
        val res = graft.operators.Ann.ivfPqResiduals(nv, coarse)
          .select($"id", $"rv".as("vh"))
          .repartition(s.sparkContext.defaultParallelism)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try graft.operators.Ann.pqFit(res, PqMSub, PqDSub, PqKSub,
          lloydIters = 4, seed = 42)
        finally res.unpersist(blocking = false)
      }
    })

  /** IVF-PQ ADC approximate top-k — the tier that composes the coarse
    * quantizer's scan pruning (only nProbe of nCells cells touched)
    * with PQ's 32× scan-width compression, on RESIDUALS (which
    * concentrate near the origin, so the same 48 code bits carry far
    * less quantization error than on raw vectors). Hash-checked against
    * the two-stage replay oracle (coarse centroids + residual codebooks
    * both embedded as literals). */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    graft.operators.Ann.ivfPqTopKWith(ivfCentroidsFor(s, dir),
        ivfPqCodebooksFor(s, dir), PqDSub, e, q, k = 5, nProbe = 8)
      .orderBy($"q_id", $"rank")
  }

  /** Shortlist-recall gate for the IVF-PQ tier (the q_pq_recall metric
    * with cell pruning in the loop): how much of the exact cosine top-5
    * survives the probed ADC top-50. Losses decompose into probe misses
    * (true neighbor in an unprobed cell) + quantization (ADC misranks
    * within probed cells); graft.TuneIvfPq measures the split (r14:
    * sf0.1 full-probe 0.48 vs raw-PQ 0.72 — on UNIFORM vectors the
    * residual carries ~2× a unit vector's energy, ‖v̂ − c‖ ≈ √2, so
    * residual coding is the dominant loss and probing costs little; on
    * clustered production embeddings the inequality flips, which is
    * why the composition exists). Hash-checked — the oracle replays
    * BOTH sides. */
  def ivfPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    val shortlist = graft.operators.Ann
      .ivfPqTopKWith(ivfCentroidsFor(s, dir), ivfPqCodebooksFor(s, dir),
        PqDSub, e, q, k = PqShortlist, nProbe = 8)
      .select($"q_id", $"id")
    val exact = graft.operators.Ann.bruteTopK(e, q, k = 5)
      .select($"q_id", $"id")
    val hits = shortlist.join(exact, Seq("q_id", "id"))
      .groupBy($"q_id").agg(count(lit(1)).as("hits"))
    q.select($"id".as("q_id")).join(hits, Seq("q_id"), "left")
      .select($"q_id", coalesce($"hits", lit(0L)).as("hits"),
        (coalesce($"hits", lit(0L)) / lit(5.0)).as("recall"))
      .orderBy($"q_id")
  }

  /** The q_ivfpq_topk / q_ivfpq_recall oracle SQL, set by Verify via
    * prepareIvfPqOracle; empty (rows-only fallback) until then. */
  @volatile private var ivfPqOracle: Map[String, String] = Map.empty

  def ivfPqOracleSqlEntry: Map[String, String] = ivfPqOracle

  def prepareIvfPqOracle(s: SparkSession, dir: String): Unit = {
    ivfPqOracle = Map.empty
    val coarse = ivfCentroidsFor(s, dir)
    val cb = ivfPqCodebooksFor(s, dir)
    if (coarse.nonEmpty && cb.nonEmpty && cb.forall(_.nonEmpty))
      ivfPqOracle = Map(
        "q_ivfpq_topk" -> buildIvfPqTopKOracleSql(coarse, cb),
        "q_ivfpq_recall" -> buildIvfPqRecallOracleSql(coarse, cb))
  }

  /** In-order left-fold dot of an rv subvector window against a literal
    * centroid — pqSubDot over the residual column. */
  private def ivfPqSubDot(off: Int, c: Array[Double]): String = {
    val clit = c.map(graft.SparkEntry.sqlDouble).mkString("[", ",", "]")
    s"list_reduce(list_transform(generate_series(1, ${c.length}), " +
      s"i -> rv[$off + i] * ($clit)[i]), (x, y) -> x + y)"
  }

  /** Two-stage replay CTE chain (the pqReplayCtes device composed with
    * buildIvfOracleSql's): normalize → coarse-assign (argmax dot, ties
    * → larger cell) → residual (vh − coarse, elementwise) → per-subspace
    * residual encode (argmax dot − ½|c|², ties → larger cell) →
    * reconstruct (coarse + concatenated codebook rows, elementwise) →
    * probe list (s desc, cell desc, ≤ nProbe) → cell-pruned ADC dot →
    * per-query rank window. Ends with `ivfpqtop` (q_id, id, adc,
    * rank). Every double neither engine independently recomputes — the
    * coarse centroids, the codebooks, the ½|c|² constants — is a
    * driver-evaluated literal embedded in both plans. */
  private[graft] def ivfPqReplayCtes(coarse: Seq[Array[Double]],
      cb: Seq[Seq[Array[Double]]]): String = {
    val dSub = PqDSub
    def vlit(c: Array[Double]): String =
      c.map(graft.SparkEntry.sqlDouble).mkString("[", ",", "]")
    val coarseArms = coarse.zipWithIndex.map { case (c, i) =>
      s"SELECT vec_id, $i AS cell, " +
        s"list_reduce(list_transform(generate_series(1, ${c.length}), " +
        s"i -> vh[i] * (${vlit(c)})[i]), (x, y) -> x + y) AS s FROM nv"
    }.mkString("\n  UNION ALL\n  ")
    val coarseRows = coarse.zipWithIndex.map { case (c, i) =>
      s"($i, ${vlit(c)})"
    }.mkString(",\n    ")
    val pqArms = cb.indices.flatMap { m =>
      cb(m).zipWithIndex.map { case (c, i) =>
        val halfCC = 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)
        s"SELECT vec_id, $m AS m, $i AS pcell, " +
          s"${ivfPqSubDot(m * dSub, c)} - $halfCC AS s FROM resv"
      }
    }.mkString("\n  UNION ALL\n  ")
    val cbRows = cb.indices.flatMap { m =>
      cb(m).zipWithIndex.map { case (c, i) => s"($m, $i, ${vlit(c)})" }
    }.mkString(",\n    ")
    s"""WITH raw AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${graft.SparkEntry.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), nv AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS vh
       |  FROM raw WHERE nrm > 0
       |), cscored AS (
       |  $coarseArms
       |), cassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, cell DESC) AS rn
       |    FROM cscored)
       |  WHERE rn = 1
       |), cct AS (
       |  SELECT * FROM (VALUES
       |    $coarseRows) t(cell, ccv)
       |), resv AS (
       |  SELECT nv.vec_id, cassign.cell,
       |    list_transform(generate_series(1, len(nv.vh)),
       |      i -> nv.vh[i] - cct.ccv[i]) AS rv
       |  FROM nv
       |  JOIN cassign ON cassign.vec_id = nv.vec_id
       |  JOIN cct ON cct.cell = cassign.cell
       |), pqscored AS (
       |  $pqArms
       |), codes AS (
       |  SELECT vec_id, m, pcell FROM (
       |    SELECT vec_id, m, pcell,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY s DESC, pcell DESC) AS rn
       |    FROM pqscored)
       |  WHERE rn = 1
       |), cbt AS (
       |  SELECT * FROM (VALUES
       |    $cbRows) t(m, pcell, cv)
       |), reconres AS (
       |  SELECT codes.vec_id, flatten(list(cbt.cv ORDER BY codes.m)) AS rr
       |  FROM codes JOIN cbt ON cbt.m = codes.m AND cbt.pcell = codes.pcell
       |  GROUP BY codes.vec_id
       |), recon AS (
       |  SELECT resv.vec_id, resv.cell,
       |    list_transform(generate_series(1, len(reconres.rr)),
       |      i -> cct.ccv[i] + reconres.rr[i]) AS recon
       |  FROM reconres
       |  JOIN resv ON resv.vec_id = reconres.vec_id
       |  JOIN cct ON cct.cell = resv.cell
       |), qn AS (
       |  SELECT vec_id AS q_id, vh AS qh FROM nv WHERE vec_id < 10
       |), qprobes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, cell DESC) AS rn
       |    FROM cscored WHERE vec_id < 10)
       |  WHERE rn <= 8
       |), adcpairs AS (
       |  SELECT qn.q_id, recon.vec_id AS id,
       |    list_reduce(list_transform(generate_series(1, len(qh)),
       |      i -> qh[i] * recon[i]), (x, y) -> x + y) AS adc
       |  FROM recon
       |  JOIN qprobes ON qprobes.cell = recon.cell
       |  JOIN qn ON qn.q_id = qprobes.q_id AND recon.vec_id != qn.q_id
       |), ivfpqtop AS (
       |  SELECT q_id, id, adc,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, id ASC) AS rank
       |  FROM adcpairs
       |)""".stripMargin
  }

  private[graft] def buildIvfPqTopKOracleSql(coarse: Seq[Array[Double]],
      cb: Seq[Seq[Array[Double]]]): String =
    ivfPqReplayCtes(coarse, cb) +
      "\nSELECT q_id, id, adc, rank FROM ivfpqtop WHERE rank <= 5 " +
      "ORDER BY q_id, rank"

  private[graft] def buildIvfPqRecallOracleSql(coarse: Seq[Array[Double]],
      cb: Seq[Seq[Array[Double]]]): String =
    ivfPqReplayCtes(coarse, cb) +
      s""",
         |exact AS (
         |  SELECT q_id, id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${graft.SparkEntry.dotSql("q.embedding", "c.embedding")}
         |          / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
         |    FROM raw c JOIN raw q ON q.vec_id < 10 AND c.vec_id != q.vec_id)
         |  WHERE rn <= 5
         |), hits AS (
         |  SELECT ivfpqtop.q_id, count(*) AS hits
         |  FROM ivfpqtop JOIN exact
         |    ON exact.q_id = ivfpqtop.q_id AND exact.id = ivfpqtop.id
         |  WHERE ivfpqtop.rank <= $PqShortlist
         |  GROUP BY ivfpqtop.q_id
         |)
         |SELECT q.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall
         |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN hits h ON h.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin

  /** p1 end-to-end (reference Predictor.scala:350-380) on a node table
    * derived from documents: train LR on labeled same-source pairs, score
    * held-out candidates, emit the threshold-sweep metric rows. */
  def linkpredE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.documents(s, dir).select(
      $"doc_id".cast("string").as("id"),
      (lit(1993) + pmod($"n_chars", lit(10))).cast("string").as("year"),
      concat_ws(" ", slice(TextAnalysis.toks($"text"), 1, 5)).as("title"),
      concat_ws(",", $"source", $"lang").as("authors"),
      $"lang".as("journal"),
      $"text".as("abstract"))
    // candidate pairs blocked by source; "true links" = high jaccard.
    // Unsorted variant + explicit spread: the pair join output feeds UDF
    // featurization and ~10 LR treeAggregate passes — it must be
    // parallel, not an AQE-coalesced single partition.
    // Cached: three consumers (train / candidates / ground truth) would
    // otherwise each re-run the O(n²/sources) pair join — ~622k pairs ×3
    // at sf0.1. The slim projection (5 scalar cols, no token arrays) keeps
    // the cache small; unpersisted once `run` has materialized `scored`.
    // Bench-budget trim (driver per-query cap is 45 s; the full pair set
    // measured ~40 s at sf0.1 on a slow host, and the half-blocks variant
    // still swung to 22 s under host noise): keep a deterministic THIRD
    // of the source blocks — pair count, featurize passes, and every
    // L-BFGS sweep scale with the kept blocks, while remaining an
    // end-to-end run over real blocks. The quality floor is pinned by
    // ExtendedSpec (best F1 > 0.5 at sf0.001 under this same trim).
    // LOUD pair-volume gate (r11, the q_pair_kcore depth-gate
    // convention): the blocked self-join is quadratic in block size BY
    // REFERENCE CONSTRUCTION, and at the 30× twin decade its ~900× pair
    // mass filled the machine's ~66 GB spill volume (disk-full at 342 s,
    // SCALE_r11.md) — destabilizing neighboring queries. Estimate
    // Σ C(block, 2) over the kept source blocks with one cheap count and
    // fail fast, naming the remedy, instead of crashing the JVM's disk.
    // 1e8 pairs ≈ what the spill budget comfortably holds; the r8 10×
    // point (~22M pairs) stays well inside it.
    // per-block product in DOUBLE (ADVICE r11): a block past ~3.04e9 docs
    // overflows n*(n-1) in Long and can wrap NEGATIVE, silently passing
    // the very budget this gate enforces — double loses ulps at that
    // magnitude but can never wrap, so the gate fails CLOSED at any scale
    val pairMass = Tables.documents(s, dir)
      .filter(pmod(xxhash64($"source"), lit(3)) === 0)
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .agg(coalesce(
        sum($"n".cast("double") * ($"n" - 1).cast("double")), lit(0.0)))
      .head.getDouble(0) / 2.0
    require(pairMass <= 1e8,
      s"linkpredE2e: blocked candidate volume ${pairMass.toLong} pairs exceeds the " +
        "1e8 budget — the reference p1 shape enumerates Σ block² pairs by " +
        "construction; at this scale use q_linkpred_ann_e2e (ANN-candidate " +
        "production path) instead")
    val pairs = TextAnalysis.linkpredPairsUnsorted(s, dir)
      .filter(pmod(xxhash64($"source"), lit(3)) === 0)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"a_id".cast("string").as("srcId"),
        $"b_id".cast("string").as("dstId"), $"label", $"a_id", $"b_id")
      .cache()
    val train = pairs.filter(($"a_id" + $"b_id") % 3 =!= 0)
      .select($"srcId", $"dstId", $"label")
    val cand = pairs.filter(($"a_id" + $"b_id") % 3 === 0)
      .select($"srcId", $"dstId")
    val gt = pairs.filter($"label" === 1).select($"srcId", $"dstId")
    // maxIter 5 (not the reference's 100, nor round-3's 10): each L-BFGS
    // iteration is a full treeAggregate pass over the cached pair frame —
    // the dominant q_linkpred_e2e cost — and the seeded synthetic labels
    // separate within 5 iterations (ExtendedSpec pins F1 > 0.5). Keeps the
    // query under the driver bench's 45 s cap with 5× slow-host margin.
    // Fit memoized per (session, corpus) — the coefficient-embed oracle
    // below replays scoring with exactly these coefficients.
    val (model, scored, _) = graft.ml.LinkPredictor.run(
      s, nodes, train, cand, gt, maxIter = 5,
      cachedModel = lpE2eModels.get((s, dir)))
    lpE2eModels.putIfAbsent((s, dir), model)
    pairs.unpersist(blocking = false)
    // sweep on probabilities bucketed to 3 decimals: bounds the distinct
    // thresholds (≤1001) so the global-ordered cumsum window stays tiny
    // regardless of candidate count
    graft.ml.LinkPredictor.sweepMetrics(
      scored.withColumn("p1r", round($"p1", 3)), "p1r")
  }

  /** Session-memoized p1-e2e fit — see linkpredE2e. */
  private val lpE2eModels = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      org.apache.spark.ml.classification.LogisticRegressionModel]

  /** The q_linkpred_e2e oracle SQL, set by Verify via
    * prepareLinkpredE2eOracle before the dump; absent (rows-only) until
    * then. */
  @volatile private var lpE2eOracle: Option[String] = None

  def linkpredE2eOracleSqlEntry: Map[String, String] =
    lpE2eOracle.map("q_linkpred_e2e" -> _).toMap

  /** Runs the query pipeline once (fit + score, memoizing the model) if
    * no fit is cached yet, then embeds the coefficients into the sweep
    * replay (oracle.LrReplaySql.linkpredE2eSql — sigmoid bucketing goes
    * through the libm-free margin-cutoff table). */
  def prepareLinkpredE2eOracle(s: SparkSession, dir: String): Unit = {
    lpE2eOracle = None // a failed prepare must fall back to rows-only
    if (!lpE2eModels.contains((s, dir))) linkpredE2e(s, dir)
    val model = lpE2eModels((s, dir))
    lpE2eOracle = Some(graft.LrReplaySql.linkpredE2eSql(
      model.coefficients.toArray, model.intercept,
      graft.ml.LinkPredictor.enStopwords))
  }

  /** The PRODUCTION link-prediction path (VERDICT r8 #3): candidates from
    * the MinHash-LSH ANN tier instead of source-blocking, then featurize →
    * LR → holdout confusion (the q_quality_classifier convention).
    *
    * Why this candidate tier: q_linkpred_e2e's blocked self-join is
    * quadratic in block size BY CONSTRUCTION (the reference's p1 shape —
    * 44× at the r8 10× run). At scale, candidates must come from a
    * similarity index whose work is bounded per item. Sign-LSH over the
    * corpus embeddings is ruled out by measurement: the test corpus's
    * embeddings are INDEPENDENT of its text similarity (positive pairs'
    * mean cosine ≈ 0.0004 — same as random), so the Jaccard-appropriate
    * ANN tier is MinHash banding over the same token streams the labels
    * live in. Token-set jaccard is also ruled out as the link definition
    * here: on this word-salad corpus ~73% of ALL pairs exceed 0.5 token
    * jaccard — a dense graph no candidate scheme can make sparse — so the
    * link label is bigram-SHINGLE jaccard ≥ 0.5, the corpus-wide near-dup
    * definition (q_minhash_neardup), which is sparse and LSH-retrievable
    * with spec-pinned recall (NearDupCrossGateSpec).
    *
    * No label leakage: features are token-level overlap and metadata
    * (common_tokens, token_jaccard, same_lang, chars_diff — the
    * linkpredPairs feature set), the label is shingle-level — correlated
    * (that's the learnable signal) but not derivable from any feature:
    * token order, which tokens ADJOIN, is what shingles add.
    *
    * Scale shape: candidate volume = Σ bucket² over band buckets, hard-
    * bounded by maxBucket; negatives are 2 seeded pseudo-random partners
    * per doc (linear); featurization touches only candidates ∪ negatives.
    * Every stage is corpus-linear except the capped bucket join — the
    * sub-10× e2e family member the scale run asked for. */
  def linkpredAnnE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assembled = lpAnnAssembled(s, dir).cache()
    try {
      val model = lpAnnModelFor(s, dir, assembled)
      val conf = model.transform(assembled.filter($"holdout"))
        .select($"label".cast("long").as("label"),
          $"prediction".cast("long").as("pred"))
        .groupBy($"label", $"pred").agg(count(lit(1)).as("n"))
        .orderBy($"label", $"pred")
      val out = conf.collect() // ≤4 rows — materialize before unpersist
      s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1),
          conf.schema)
        .orderBy($"label", $"pred")
    } finally assembled.unpersist(blocking = false)
  }

  /** Session-memoized ANN-e2e fit (the semCentroidsFor device, r15):
    * ONE L-BFGS fit per (session, corpus) serves both the query and the
    * coefficient-embed replay oracle below — the oracle embeds THESE
    * coefficients, so query and oracle cannot drift within a session,
    * while training itself stays Spark-side and spec-gated
    * (treeAggregate float order is not replayable). */
  private val lpAnnModels = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      org.apache.spark.ml.classification.LogisticRegressionModel]

  private def lpAnnModelFor(s: SparkSession, dir: String,
      assembled: DataFrame)
      : org.apache.spark.ml.classification.LogisticRegressionModel = {
    import s.implicits._
    lpAnnModels.getOrElseUpdate((s, dir), {
      // maxIter 5 (was 10 — ADVICE r9 #4 fit budget, same argument as
      // linkpredE2e): each L-BFGS iteration is a treeAggregate pass over
      // the candidate frame, and the weighted boundary separates within
      // 5 iterations — the holdout floors (recall ≥ 0.75, accuracy
      // ≥ 0.95, ExtendedSpec) are re-pinned under this budget.
      new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(5).setLabelCol("label").setFeaturesCol("features")
        .setWeightCol("w")
        .fit(assembled.filter(!$"holdout"))
    })
  }

  /** The q_linkpred_ann_e2e oracle SQL, set by Verify via
    * prepareLinkpredAnnOracle before the dump; absent (rows-only) until
    * then. */
  @volatile private var lpAnnOracle: Option[String] = None

  def linkpredAnnOracleSqlEntry: Map[String, String] =
    lpAnnOracle.map("q_linkpred_ann_e2e" -> _).toMap

  def prepareLinkpredAnnOracle(s: SparkSession, dir: String): Unit = {
    lpAnnOracle = None // a failed prepare must fall back to rows-only
    val model = lpAnnModels.get((s, dir)).getOrElse {
      val a = lpAnnAssembled(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try lpAnnModelFor(s, dir, a)
      finally a.unpersist(blocking = false)
    }
    lpAnnOracle = Some(graft.XxhReplaySql.linkpredAnnE2eSql(
      model.coefficients.toArray, model.intercept))
  }

  /** The featurized + assembled candidate frame the ANN-e2e query and
    * its fit share — see the scaladoc above for the candidate tier,
    * negative sampling, feature and leakage arguments. */
  private def lpAnnAssembled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // ANN tier: banded minhash buckets, exact shingle-jaccard verify at
    // threshold 0 — every bucket candidate survives WITH its jaccard, so
    // sub-threshold candidates become hard negatives instead of being
    // thrown away (threshold 0.5 is applied to the LABEL, not the
    // pairs). Consumes the session-materialized candidate frame.
    val cand = minhashCandidates(s, dir)
      .select($"a_id", $"b_id", ($"jaccard" >= 0.5).cast("int").as("label"))
    // easy negatives: 2 seeded pseudo-random partners per doc — the
    // partner id is a hash into the id domain, inner-joined back to the
    // corpus so holes in the id space just drop out; pairs the ANN tier
    // already surfaced are removed (they carry a verified label)
    val maxId = docs.agg(max($"doc_id")).head.getLong(0)
    val negs = docs.select($"doc_id")
      .select($"doc_id", explode(array(lit(1), lit(2))).as("j"))
      .select($"doc_id",
        pmod(xxhash64($"doc_id", $"j", lit("linkpred-neg")), lit(maxId + 1))
          .as("partner"))
      .filter($"doc_id" =!= $"partner")
      .select(least($"doc_id", $"partner").as("a_id"),
        greatest($"doc_id", $"partner").as("b_id"))
      .distinct()
      .join(docs.select($"doc_id".as("b_id")), Seq("b_id"), "left_semi")
      .join(cand.select($"a_id", $"b_id"), Seq("a_id", "b_id"), "left_anti")
      .withColumn("label", lit(0))
    val pairs = cand.unionByName(negs)
    // double attribute join (the p1 J1/J2 shape) on hashed token sets;
    // the O(pairs) intersect compares longs, not strings
    val d = docs.select($"doc_id", $"lang", $"n_chars",
      array_distinct(transform(TextAnalysis.toks($"text"), t => xxhash64(t)))
        .as("tset"))
    val feat = pairs
      .join(d.select($"doc_id".as("a_id"), $"lang".as("a_lang"),
        $"n_chars".as("a_chars"), $"tset".as("a_t")), "a_id")
      .join(d.select($"doc_id".as("b_id"), $"lang".as("b_lang"),
        $"n_chars".as("b_chars"), $"tset".as("b_t")), "b_id")
      .select($"a_id", $"b_id", $"label".cast("double").as("label"),
        size(array_intersect($"a_t", $"b_t")).cast("double")
          .as("common_tokens"),
        // token-set jaccard is a FEATURE here, not the label (the label
        // is shingle-level): the strongest learnable signal for the
        // shingle-overlap link, and exactly what a production featurizer
        // would hand the model
        (size(array_intersect($"a_t", $"b_t")).cast("double") /
          (size($"a_t") + size($"b_t") -
            size(array_intersect($"a_t", $"b_t"))).cast("double"))
          .as("token_jaccard"),
        when($"a_lang" === $"b_lang", 1.0).otherwise(0.0).as("same_lang"),
        abs($"a_chars" - $"b_chars").cast("double").as("chars_diff"))
      .withColumn("holdout",
        substring(md5(concat(lit("lpann:"), $"a_id", lit(":"), $"b_id")),
          1, 1).isin("0", "1", "2", "3"))
      // class weight: positives are ~1-3% of the pair stream (the ANN
      // tier's precision is the point — it retrieves few, mostly-true
      // candidates; the negative mass is sampled). Without the weight,
      // L-BFGS parks the boundary inside the positive cluster at small
      // SFs (measured: 2/5 holdout positives lost at sf0.001).
      .withColumn("w", when($"label" === 1.0, 10.0).otherwise(1.0))
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(
        Array("common_tokens", "token_jaccard", "same_lang", "chars_diff"))
      .setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(feat)
  }
}
