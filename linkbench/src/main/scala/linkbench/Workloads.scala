package linkbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, SparkEntry}
import graft.ml.{LinkPredictor, P1Files}
import graft.operators.{DupProbe, SimilarityJoin}
import graft.queries.{Extended, TextAnalysis}
import graft.sources.Tables

/** What one iteration produced: exact output counters (must repeat across
  * iterations), quality figures, and failed checks. */
final case class Outcome(outputs: Map[String, Long],
    quality: Map[String, Double], problems: Seq[String],
    layer: Map[String, Double] = Map.empty)

/** A workload: one untraced iteration (the program as a user calls it),
  * one traced iteration (the same work through the layers' public calls,
  * each inside a span), and per-run extras that are not timed. */
trait Workload {
  def plain(it: Int): Outcome
  def traced(it: Int, t: Tracer): Outcome
  def extras(): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String): Workload =
    name match {
      case "p1_citation" => new P1Citation(spark, dir)
      case "p2_discovery" => new P2Discovery(spark, dir)
      case "pair_family" => new PairFamily(spark, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq

  /** Planted pairs (a_id < b_id) from the generator's list. */
  def planted(dir: String): Set[(Long, Long)] =
    lines(s"$dir/planted_pairs.tsv").map { l =>
      val f = l.split("\t"); (f(0).toLong, f(1).toLong)
    }.toSet

  /** Exact bigram-shingle sets of every document, computed here from the
    * raw text (not through the engine's shingle expressions). */
  def shingleSets(spark: SparkSession, dir: String): Map[Long, Set[String]] =
    Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map { r =>
        val t = r.getString(1).split(" ")
        r.getLong(0) -> t.indices.drop(1).map(i => t(i - 1) + " " + t(i)).toSet
      }.toMap

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size.toDouble

  /** Checks on a near-duplicate pair list: unique, a_id < b_id, exact
    * Jaccard >= 0.5. Returns (problems, recall, f1) against `truth`. */
  def checkPairs(what: String, pairs: Seq[(Long, Long)],
      sets: Map[Long, Set[String]], truth: Set[(Long, Long)])
      : (Seq[String], Double, Double) = {
    val problems = Seq.newBuilder[String]
    val distinct = pairs.toSet
    if (distinct.size != pairs.size)
      problems += s"$what: ${pairs.size - distinct.size} duplicate pairs"
    val unordered = pairs.count { case (a, b) => a >= b }
    if (unordered > 0) problems += s"$what: $unordered pairs with a_id >= b_id"
    val low = pairs.filter { case (a, b) =>
      !(sets.contains(a) && sets.contains(b) && jaccard(sets(a), sets(b)) >= 0.5)
    }
    if (low.nonEmpty)
      problems += s"$what: ${low.size} pairs below Jaccard 0.5, e.g. ${low.head}"
    val hit = (distinct intersect truth).size.toDouble
    val recall = hit / math.max(1, truth.size)
    val precision = hit / math.max(1, distinct.size)
    val f1 = if (hit == 0) 0.0 else 2 * precision * recall / (precision + recall)
    (problems.result(), recall, f1)
  }

  /** Order-independent fingerprint of a result. */
  def fingerprint(rows: Array[Row]): Long = rows.map(_.hashCode.toLong).sum
}

/** p1 from the reference's own file formats, through P1Files.run. */
final class P1Citation(spark: SparkSession, dir: String) extends Workload {
  private val nodePath = s"$dir/node_information.csv"
  private val trainPath = s"$dir/training_set.txt"
  private val testPath = s"$dir/testing_set.txt"
  private val gtPath = s"$dir/Cit-HepTh.txt"
  private val nTest = Workload.lines(testPath).size.toLong
  private val nPlanted = Workload.lines(s"$dir/planted_pairs.tsv").size
  /** The all-positive classifier's F1 on the test set: a model that learned
    * nothing from the planted topic signal cannot beat it. */
  val f1Floor: Double = {
    val p = nPlanted.toDouble / nTest
    2 * p / (1 + p)
  }

  private def best(metrics: Array[Row]): Map[String, Double] = {
    val b = metrics.maxBy(_.getAs[Double]("f1"))
    Map("f1" -> b.getAs[Double]("f1"), "recall" -> b.getAs[Double]("recall"))
  }

  private def outcome(rows: Long, q: Map[String, Double]): Outcome = {
    val problems = Seq(
      Option.when(rows != nTest)(s"scored $rows rows, want $nTest test edges"),
      Option.when(!(q("f1") >= f1Floor))(
        f"best F1 ${q("f1")}%.4f below the all-positive floor $f1Floor%.4f"))
      .flatten
    Outcome(Map("scored_rows" -> rows,
      "f1_bits" -> java.lang.Double.doubleToLongBits(q("f1"))), q, problems)
  }

  def plain(it: Int): Outcome = {
    val (scored, metrics) = P1Files.run(spark, nodePath, trainPath, testPath, gtPath)
    try outcome(scored.count(), best(metrics.collect()))
    finally scored.unpersist()
  }

  /** P1Files.run and LinkPredictor.run step by step; each step is forced
    * (cache + count) inside its span, so the frames the next step reads
    * are the ones the span produced. */
  def traced(it: Int, t: Tracer): Outcome = {
    def span[T](name: String)(body: => T): T = t.span(it, name)(body)
    def forced(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val readRows = span("sources.read") {
      Seq(Tables.nodeInfoCsv(spark, nodePath), Tables.labeledEdges(spark, trainPath),
        Tables.edges(spark, testPath), Tables.snapEdges(spark, gtPath))
        .map(_.count()).sum
    }
    val nodes = Tables.nodeInfoCsv(spark, nodePath)
      .na.fill(Map("title" -> "", "authors" -> "", "journal" -> "", "abstract" -> ""))
      .withColumnRenamed("srcId", "id")
    val train = Tables.labeledEdges(spark, trainPath).filter(col("label").isNotNull)
    val gt = Tables.snapEdges(spark, gtPath)
      .select(col("srcId").as("g_src"), col("dstId").as("g_dst")).dropDuplicates()
    val labeled = Tables.edges(spark, testPath)
      .join(gt, col("srcId") === col("g_src") && col("dstId") === col("g_dst"),
        "left_outer")
      .withColumn("label", when(col("g_src").isNull, 0).otherwise(1))
      .drop("g_src", "g_dst")
    val prepared = span("ml.prepare")(forced(LinkPredictor.prepareNodes(nodes)))
    val (trainPairs, candPairs) = span("ml.attach") {
      (forced(LinkPredictor.attachNodeAttrs(train, prepared)),
        forced(LinkPredictor.attachNodeAttrs(labeled, prepared)))
    }
    val (trainFeat, candFeat) = span("ml.featurize") {
      (forced(LinkPredictor.featurize(trainPairs)),
        forced(LinkPredictor.assemble(LinkPredictor.featurize(candPairs))))
    }
    val model = span("ml.train")(LinkPredictor.train(trainFeat)._1)
    val scored = span("ml.score")(forced(LinkPredictor.score(model, candFeat)))
    val metrics = span("ml.sweep") {
      LinkPredictor.sweepMetrics(scored.withColumn("p1r", round(col("p1"), 3)), "p1r")
        .collect()
    }
    val rows = scored.count()
    Seq(prepared, trainPairs, candPairs, trainFeat, candFeat, scored)
      .foreach(_.unpersist())
    outcome(rows, best(metrics)).copy(layer = Map("sources.rows" -> readRows.toDouble))
  }
}

/** p2: MinHash-LSH discovery through Extended.similarityJoinP2. */
final class P2Discovery(spark: SparkSession, dir: String) extends Workload {
  private val sets = Workload.shingleSets(spark, dir)
  /** Planted pairs the join can see: both documents survive the query's
    * own 0.5 Bernoulli input sample (seed 12345, as similarityJoinP2). */
  private val truth = {
    val kept = Tables.documents(spark, dir).sample(0.5, 12345L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Workload.planted(dir).filter { case (a, b) => kept(a) && kept(b) }
  }

  private def outcome(rows: Array[Row]): Outcome = {
    val pairs = rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val (problems, recall, f1) = Workload.checkPairs("p2", pairs, sets, truth)
    Outcome(Map("pairs" -> rows.length.toLong, "pairs_hash" -> Workload.fingerprint(rows)),
      Map("recall" -> recall, "f1" -> f1), problems)
  }

  def plain(it: Int): Outcome = outcome(Extended.similarityJoinP2(spark, dir).collect())

  /** similarityJoinP2's input frame, as the query builds it. */
  private def input: DataFrame = Tables.documents(spark, dir)
    .sample(0.5, 12345L)
    .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t"))
    .repartition(spark.sparkContext.defaultParallelism)
    .select(col("doc_id"), array_distinct(TextAnalysis.bigramShingles(col("t"))).as("sh"))
    .filter(size(col("sh")) > 0)

  private def features(d: DataFrame): DataFrame = new HashingTF()
    .setInputCol("sh").setOutputCol("tf").setNumFeatures(4096).transform(d)

  def traced(it: Int, t: Tracer): Outcome = {
    def span[T](name: String)(body: => T): T = t.span(it, name)(body)
    val readRows = span("sources.read")(Tables.documents(spark, dir).count())
    val d = input
    val dup = span("operators.dup_probe")(DupProbe.dupFactor(d, col("sh")))
    val tf = features(d)
    span("operators.minhash_fit")(SimilarityJoin.fitMinHash(tf, "tf"))
    val rows = span("operators.self_join") {
      SimilarityJoin.selfJoin(tf, "doc_id", "tf", threshold = 0.5, seed = 42L)
        .orderBy(col("a_id"), col("b_id")).collect()
    }
    val o = outcome(rows)
    val valve = Option.when(dup >= DupProbe.CollapseDupFactor)(
      f"dup factor $dup%.3f engages the twin-collapse valve on a twin-free corpus")
    o.copy(problems = o.problems ++ valve, layer = Map(
      "sources.rows" -> readRows.toDouble, "operators.dup_factor" -> dup))
  }

  /** Candidate volume of the LSH join: pairs a_id < b_id sharing a
    * (table, min-hash) bucket, Σ C(n, 2) over buckets, from the same fitted
    * coefficients the join uses. Counted once per run, untimed. */
  override def extras(): Map[String, Any] = {
    val tf = features(input)
    val coefs = SimilarityJoin.randCoefficientsOf(SimilarityJoin.fitMinHash(tf, "tf"))
    val indices = udf((v: Vector) => {
      val b = scala.collection.mutable.ArrayBuilder.make[Long]
      v.foreachActive((i, x) => if (x != 0.0) b += i.toLong)
      b.result()
    })
    val sig = tf.select(indices(col("tf")).as("ix")).filter(size(col("ix")) > 0)
      .select(posexplode(array(coefs.toSeq.map { case (a, b) =>
        array_min(transform(col("ix"), e =>
          ((lit(1L) + e) * lit(a.toLong) + lit(b.toLong)) % lit(SimilarityJoin.HashPrime)))
      }: _*)).as(Seq("t", "h")))
    val candidates = sig.groupBy("t", "h").count()
      .agg(sum(col("count") * (col("count") - 1) / 2).cast("long")).head().getLong(0)
    Map("operators.candidates" -> candidates)
  }
}

/** The near-dup / pair-graph query family in one session, in runOrder. */
final class PairFamily(spark: SparkSession, dir: String) extends Workload {
  val family: Seq[String] = SparkEntry.orderedQueryNames.filter(Set(
    "q_minhash_neardup", "q_neardup_recall", "q_retrieval_eval",
    "q_ngram_jaccard", "q_containment_pairs", "q_ingest_neardup",
    "q_dedup_clusters", "q_pair_kcore", "q_linkpred_ann_e2e"))
  private val sets = Workload.shingleSets(spark, dir)
  private val truth = Workload.planted(dir)

  private def outcome(results: Seq[(String, Array[Row])]): Outcome = {
    val byName = results.toMap
    val pairs = byName("q_minhash_neardup").toSeq
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    val (problems, recall, _) =
      Workload.checkPairs("q_minhash_neardup", pairs, sets, truth)
    // holdout confusion (label, pred, n) of the ANN-candidate link predictor
    val conf = byName("q_linkpred_ann_e2e").map(r =>
      (r.getAs[Long]("label"), r.getAs[Long]("pred")) -> r.getAs[Long]("n")).toMap
      .withDefaultValue(0L)
    val tp = conf((1L, 1L)).toDouble
    val f1 = if (tp == 0) 0.0 else 2 * tp / (2 * tp + conf((0L, 1L)) + conf((1L, 0L)))
    val outputs = results.flatMap { case (q, rows) =>
      Seq(s"$q.rows" -> rows.length.toLong, s"$q.hash" -> Workload.fingerprint(rows))
    }.toMap
    Outcome(outputs, Map("recall" -> recall, "f1" -> f1),
      problems ++ Option.when(tp == 0)("q_linkpred_ann_e2e: no true positives"))
  }

  private def run(q: String): Array[Row] = SparkEntry.queries(q)(spark, dir).collect()

  def plain(it: Int): Outcome = outcome(family.map { q =>
    spark.sparkContext.setJobGroup(s"it$it/$q", q)
    q -> run(q)
  })

  def traced(it: Int, t: Tracer): Outcome = {
    def span[T](name: String)(body: => T): T = t.span(it, name)(body)
    val readRows = span("sources.read")(Tables.documents(spark, dir).count())
    val dup = span("operators.dup_probe") {
      DupProbe.dupFactor(Tables.documents(spark, dir), col("lang"), col("text"))
    }
    val frames = Seq(
      "minhash_candidates" -> (() => Extended.minhashCandidates(spark, dir)),
      "pair_counts" -> (() => TextAnalysis.pairCountsFrame(spark, dir)),
      "scored_near_dup_pairs" -> (() => TextAnalysis.scoredNearDupPairs(spark, dir)))
      .map { case (name, build) => name -> span(s"frames.$name")(build().count()) }
    val o = outcome(family.map(q => q -> span(s"queries.$q")(run(q))))
    val valve = Option.when(dup < DupProbe.CollapseDupFactor)(
      f"dup factor $dup%.3f leaves the twin-collapse valves off")
    o.copy(problems = o.problems ++ valve, layer = Map(
      "sources.rows" -> readRows.toDouble, "operators.dup_factor" -> dup) ++
      frames.map { case (n, rows) => s"frames.$n.rows" -> rows.toDouble })
  }

  /** Writes each family query's result and its DuckDB oracle SQL in the
    * layout tools/compare.py reads (the Verify dump format). */
  def dumpForOracle(out: String): Unit = {
    Caches.invalidate(spark)
    Extended.prepareLinkpredAnnOracle(spark, dir)
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => family.contains(q) }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Main.json.writeValueAsString(oracles))
    family.foreach { q =>
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$q")
    }
  }
}
