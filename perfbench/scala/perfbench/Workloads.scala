package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GridVegPipelines, Ingest, JoinPolicy, Quality, Warehouse, Wrangle}
import graft.operators.{CorpusStats, Dedup, Fuzzy, Graph, IvfIndex, Overlap, TextIndex}

/** The reference's own traffic: WRITE_TRUNCATE loads, an ingest batch with
  * a share of already-present rows, a re-publish and vacuum, the wrangle
  * pipelines and a join over the live tables, and date/NULL repair of
  * planted bad rows. */
final class WarehouseEtl(spark: SparkSession, in: String) extends Workload {
  private def rd(n: String) = spark.read.parquet(s"$in/$n.parquet")
  private val inputs = Seq("survey_meta", "code_meta", "ground", "foliar",
    "species").map(n => n -> rd(n))
  private val batch = rd("batch")
  private val keys = Seq("survey_ID", "grid_point", "point")
  private val reports = mutable.ArrayBuffer.empty[(Int, Ingest.AppendReport)]
  private val Cutoff = "2030-01-01"

  val oracleOps = Set("etl.groundCover", "etl.groupedCompletion",
    "etl.joinYear", "etl.dateDiagnostics")

  def round(r: Round): Unit = {
    val wh = r.wh
    inputs.foreach { case (name, df) =>
      r.write("etl.load") { r.act("Warehouse.overwrite")(wh.overwrite(df, name)) }
    }
    r.write("etl.ingest") {
      val rep = r.call("Ingest.incrementalAppend")(
        Ingest.incrementalAppend(wh, "ground", batch, keys))(identity)
      reports += ((r.index, rep))
    }
    r.write("etl.republish") {
      r.act("Warehouse.overwrite")(wh.overwrite(wh.read("ground"), "ground"))
    }
    r.write("etl.vacuum") { r.act("Warehouse.vacuum")(wh.vacuum("ground")) }
    r.read("etl.groundCover", "GridVegPipelines.groundCover")(
      GridVegPipelines.groundCover(wh.read("ground"), wh.read("code_meta"),
        wh.read("survey_meta")))
    r.read("etl.groupedCompletion", "Wrangle.groupedCompletion") {
      val pct = r.call("Wrangle.interceptPct")(Wrangle.interceptPct(
        wh.read("ground"), Seq("survey_ID", "grid_point", "intercept_ground_code"),
        "intercept_1"))(identity)
      Wrangle.groupedCompletion(pct, Seq("intercept_ground_code"),
        Seq("survey_ID", "grid_point"), Map("intercepts_pct" -> 0.0))
    }
    r.read("etl.joinYear", "JoinPolicy.broadcastIfSmall")(
      wh.read("ground").select("survey_ID")
        .join(JoinPolicy.broadcastIfSmall(wh.read("survey_meta")),
          Seq("survey_ID"))
        .groupBy("year").agg(count(lit(1)).as("n")))
    r.read("etl.dateDiagnostics", "Quality.dateDiagnostics")(
      Quality.dateDiagnostics(wh.read("species"), wh.read("survey_meta"),
        wh.read("foliar"), wh.read("ground"), "survey_ID", "date", Cutoff))
    r.write("etl.repairDates") {
      val fixed = r.call("Quality.repairDatesFrom")(Quality.repairDatesFrom(
        wh.read("species"), wh.read("survey_meta"), "survey_ID", "date", "year",
        col("date") > lit(Cutoff)))(identity)
      r.act("Warehouse.overwrite")(wh.overwrite(fixed, "species_fixed"))
    }
    r.write("etl.dropNullRows") {
      val clean = r.call("Quality.dropNullRows")(Quality.dropNullRows(
        wh.read("species_fixed"), Seq("grid_point", "key_plant_species")))(identity)
      r.act("Warehouse.overwrite")(wh.overwrite(clean, "species_clean"))
    }
  }

  private var paths = Seq.empty[(String, String)]

  override def verify(runner: Runner, keptRoot: String): Unit = {
    reports.foreach { case (round, rep) =>
      runner.check(rep.reconciled, s"append round $round not reconciled: $rep")
    }
    val wh = new Warehouse(spark, keptRoot)
    paths = Seq("ground", "survey_meta", "code_meta", "foliar", "species",
      "species_fixed", "species_clean").map(t => t -> wh.dataPath(t))
  }

  override def facts: Seq[(String, String)] = Seq(
    "appended" -> reports.map { case (round, rep) =>
      s"[$round,${rep.incoming},${rep.appended}]" }.mkString("[", ",", "]"),
    "tables" -> paths.map { case (t, p) => s"${Json.str(t)}:${Json.str(p)}" }
      .mkString("{", ",", "}"))
}

/** A stateful stream over the persistent indexes: build, then batches of
  * appends and deletes (tombstones and versions pile up), admission into
  * the live index, probe and search against the tombstoned state, then
  * the maintenance loop, on both index kinds. */
final class IndexLifecycle(spark: SparkSession, in: String) extends Workload {
  private def rd(n: String) = spark.read.parquet(s"$in/$n.parquet")
  private val genFacts = scala.io.Source.fromFile(s"$in/_facts.json").mkString
  private val batches = "\"batches\": (\\d+)".r.findFirstMatchIn(genFacts).get.group(1).toInt
  private def each(n: String) = (0 until batches).map(b => rd(s"${n}_b$b"))
  private def all(n: String) = each(n).reduce(_ unionByName _)
  private val vecBase = rd("vec_base")
  private val docBase = rd("doc_base")
  private val vecBatches = each("vec")
  private val vecDels = each("vec_del")
  private val docBatches = each("doc")
  private val docDels = each("doc_del")
  private val fresh = all("fresh")
  private val copies = all("copy")
  private val queries = all("query")
  private val allVecs = (vecBatches :+ fresh :+ copies).foldLeft(vecBase)(_ unionByName _)
  private val terms: Seq[String] =
    "\"terms\": \\[([^\\]]*)\\]".r.findFirstMatchIn(genFacts).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq.take(2)
  private val K = 5
  val RecallFloor = 0.8
  val oracleOps = Set.empty[String]

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(col(c)).collect().map(_.getLong(0)).toSet
  // the client's own record of what the index should hold (read at set-up)
  private val deletedVecs = vecDels.flatMap(ids(_, "vec_id")).toSet
  private val liveVecs = ids(vecBase, "vec_id") ++
    vecBatches.flatMap(ids(_, "vec_id")) -- deletedVecs
  private val freshIds = ids(fresh, "vec_id")
  private val liveDocs = ids(docBase, "doc_id") ++
    docBatches.flatMap(ids(_, "doc_id")) -- docDels.flatMap(ids(_, "doc_id"))

  /** What one round returned, checked after the stream. */
  private final case class Seen(round: Int, admitted: Set[Long], probe: Seq[Row],
                                searchAll: Seq[Row], ranked: Seq[Row],
                                advice: Seq[(String, String)])
  private val seen = mutable.ArrayBuffer.empty[Seen]

  def round(r: Round): Unit = {
    val wh = r.wh
    r.write("idx.buildPq") {
      r.call("IvfIndex.buildPq")(IvfIndex.buildPq(wh, vecBase, "vec_id",
        "embedding", dim = 32, nlist = 16, m = 8, ksub = 64, name = "vidx"))(_ => ())
    }
    r.write("idx.buildText") {
      r.call("TextIndex.build")(TextIndex.build(wh, docBase, "doc_id", "text",
        name = "tidx", nBuckets = 4))(_ => ())
    }
    for (b <- 0 until batches) {
      r.write("idx.appendPq") {
        r.act("IvfIndex.appendPq")(IvfIndex.appendPq(wh, vecBatches(b), "vec_id",
          "embedding", "vidx"))
      }
      r.write("idx.appendText") {
        r.act("TextIndex.append")(TextIndex.append(wh, docBatches(b), "doc_id",
          "text", "tidx"))
      }
      r.write("idx.deletePq") {
        r.act("IvfIndex.delete")(IvfIndex.delete(wh, vecDels(b), "vec_id", "vidx"))
      }
      r.write("idx.deleteText") {
        r.act("TextIndex.delete")(TextIndex.delete(wh, docDels(b), "doc_id", "tidx"))
      }
    }
    // admission writes the admitted vectors into the index
    val admitted = r.read("idx.semDedupAdmit", "Dedup.semDedupAdmit", write = true)(
      Dedup.semDedupAdmit(wh, fresh.unionByName(copies), allVecs, "vec_id",
        "embedding", "vidx", threshold = 0.99, rerank = 64).select("vec_id"))
    val probe = r.read("idx.probePq", "IvfIndex.probePq")(
      IvfIndex.probePq(wh, queries, allVecs, "vec_id", "embedding", "vidx",
        k = K, nprobe = 8, rerank = 64).select("query_id", "neighbor_id", "rank"))
    val all = r.read("idx.searchAll", "TextIndex.searchAll")(
      TextIndex.searchAll(wh, terms, "tidx"))
    val ranked = r.read("idx.searchRanked", "TextIndex.searchRanked")(
      TextIndex.searchRanked(wh, terms, "tidx", k = 10).select("doc_id"))
    // the maintenance loop: maintain() consults maintenanceAdvice and acts
    // on it; past a 5% dead share the vector index compacts, while the
    // text index at default thresholds stays Healthy
    val advice = mutable.ArrayBuffer.empty[(String, String)]
    r.write("idx.maintainPq") {
      r.call("IvfIndex.maintain")(IvfIndex.maintain(wh, "vidx",
        maxDeadFraction = 0.05))(a => advice += (("Compact", a.toString)))
    }
    r.write("idx.maintainText") {
      r.call("TextIndex.maintain")(TextIndex.maintain(wh, "tidx"))(
        a => advice += (("Healthy", a.toString)))
    }
    seen += Seen(r.index, admitted.getOrElse(Nil).map(_.getLong(0)).toSet,
      probe.getOrElse(Nil), all.getOrElse(Nil), ranked.getOrElse(Nil), advice.toSeq)
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private val recalls = mutable.ArrayBuffer.empty[Double]

  override def verify(runner: Runner, keptRoot: String): Unit = {
    val vec = allVecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val words = docBatches.foldLeft(docBase)(_ unionByName _).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val qs = queries.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    seen.foreach { s =>
      val live = liveVecs ++ s.admitted
      runner.check(s.probe.forall(r => !deletedVecs(r.getLong(1))),
        s"round ${s.round}: probePq returned a deleted id")
      // recall@k against brute-force cosine kNN over the live set
      val got = s.probe.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hit = qs.map { case (q, qv) =>
        val truth = live.toSeq.map(id => id -> cos(qv, vec(id)))
          .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet
        (got.getOrElse(q, Set.empty[Long]) intersect truth).size
      }.sum
      val recall = hit.toDouble / (K * qs.length)
      recalls += recall
      runner.check(recall >= RecallFloor,
        f"round ${s.round}: recall@$K $recall%.3f < $RecallFloor")
      // searchAll equals a brute-force filter over the live documents
      val want = liveDocs.filter(d => terms.forall(words(d)))
      val have = s.searchAll.map(_.getLong(0))
      runner.check(have.toSet == want && have.size == want.size,
        s"round ${s.round}: searchAll returned ${have.size} docs, expected ${want.size}")
      runner.check(s.ranked.forall(r => liveDocs(r.getLong(0))),
        s"round ${s.round}: searchRanked returned a deleted doc")
      // admission admits exactly the fresh vectors, never a near-copy
      runner.check(s.admitted == freshIds,
        s"round ${s.round}: semDedupAdmit admitted ${s.admitted.size}, expected ${freshIds.size}")
      s.advice.foreach { case (want, a) =>
        runner.check(a == want, s"round ${s.round}: maintain advised $a, expected $want")
      }
    }
  }

  override def facts: Seq[(String, String)] = Seq(
    "recall_at_k" -> recalls.map(_.toString).mkString("[", ",", "]"))
}

/** Compute-bound corpus kernels over seeded documents, each shaped like its
  * catalog query so the catalog's oracle SQL checks it, then an iterative
  * graph operator over a seeded edge set. */
final class CorpusKernels(spark: SparkSession, in: String) extends Workload {
  private val docs = spark.read.parquet(s"$in/documents.parquet")
  private val customer = spark.read.parquet(s"$in/customer.parquet")
  private def wide(df: DataFrame, c: String) =
    df.repartition(spark.sparkContext.defaultParallelism, col(c))

  private val catalog = Map(
    "corpus.ngramJaccard" -> "q32_ngram_jaccard",
    "corpus.jaccardJoinExact" -> "q169_jaccard_join_exact",
    "corpus.tfidfTopTerms" -> "q75_tfidf_topterms",
    "corpus.ngramPrecision" -> "q190_ngram_precision",
    "corpus.editDistanceJoin" -> "q93_fuzzy_join",
    "corpus.kmvOverlap" -> "q129_corpus_overlap")
  val oracleOps = catalog.keySet ++ Set("corpus.minHashLSH", "graph.labelPropagation")
  override def oracleSql: Map[String, String] =
    catalog.map { case (op, q) => op -> graft.SparkEntry.oracleSql(q) }

  private val edges = spark.read.parquet(s"$in/edges.parquet")

  def round(r: Round): Unit = {
    r.read("corpus.minHashLSH", "Dedup.minHashLSH")(
      Dedup.minHashLSH(docs, "doc_id", "text", threshold = 0.5))
    r.read("corpus.ngramJaccard", "Dedup.ngramJaccard")(
      Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.3))
    r.read("corpus.jaccardJoinExact", "Dedup.jaccardJoinExact")(
      Dedup.jaccardJoinExact(docs, "doc_id", "text", threshold = 0.3))
    r.read("corpus.tfidfTopTerms", "CorpusStats.tfidfTopTerms")(
      CorpusStats.tfidfTopTerms(wide(docs, "doc_id"), "doc_id", "text", topK = 5))
    r.read("corpus.ngramPrecision", "CorpusStats.ngramPrecision") {
      val d = wide(docs, "doc_id")
      CorpusStats.ngramPrecision(
        d.select(col("doc_id"), concat(col("text"), lit(" planted tail")).as("text")),
        d.select(col("doc_id"), col("text")), "doc_id", "text", n = 2)
    }
    r.read("corpus.editDistanceJoin", "Fuzzy.editDistanceJoin")(
      Fuzzy.editDistanceJoin(wide(customer, "c_custkey"), "c_custkey", "c_name",
        maxDist = 1))
    r.read("corpus.kmvOverlap", "Overlap.kmvSketch") {
      val k = 256
      val sh = graft.functions.Generates.explodeOnce(
        wide(docs, "doc_id").withColumn("side", (col("doc_id") % 2).cast("int")),
        Seq(col("side")), graft.functions.TextFunctions.shingles(col("text"), 3),
        "shingle")
      val sk = Overlap.kmvSketch(sh, Seq("side"), "shingle", k)
      sk.filter(col("side") === 0).select(col("kmv").as("a"))
        .crossJoin(sk.filter(col("side") === 1).select(col("kmv").as("b")))
        .select(Overlap.kmvOverlap(col("a"), col("b"), k).as("o"))
        .select(col("o.jaccard").as("jaccard"), col("o.est_union").as("est_union"),
          col("o.est_intersection").as("est_intersection"))
    }
    // label propagation (q173's plan-growth shape) over a seeded edge
    // sample, the edge list staged in a bucketed warehouse layout as the
    // catalog's graph queries do: the call changes stored state, and is
    // the stream's one write
    r.read("graph.labelPropagation", "Graph.labelPropagation", write = true)(
      Graph.labelPropagation(edges, "src", "dst", iters = 2,
        staging = Some(Graph.EdgeStage(r.wh, "lpa_edges", 8))))
  }
}
