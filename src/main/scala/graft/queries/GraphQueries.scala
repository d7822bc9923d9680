package graft.queries

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Graph analytics over corpus-derived graphs — the link-analysis tier a
  * curation pipeline uses for quality priors and canonical selection
  * (CommonCrawl-style centrality ranking; TextRank keyword extraction,
  * Mihalcea & Tarau 2004; PageRank, Brin & Page 1998).
  *
  * Both graphs here are AGGREGATES of the corpus — a word co-occurrence
  * graph (bounded by vocabulary²) and a near-dup candidate graph (bounded
  * by LSH collisions). The corpus-scale work is the one pass that builds
  * the edge list; the power iterations then run over the small aggregated
  * graph as join+agg rounds, so at 100 TB the scan dominates and the
  * iteration cost is independent of corpus size. Identical edge-agg
  * subtrees across iterations deduplicate at runtime via ReuseExchange —
  * a perf reuse only; correctness never depends on it (every iteration is
  * a pure function of the edge list).
  *
  * Determinism: scores are BIGINT ppm. Per-edge contributions floor-divide
  * ((w·score) div outw) BEFORE the sum, so the distributed sum is an
  * order-free integer sum; the damping step is again integer
  * (150000 + (850000·inflow) div 1000000, d = 0.85). DuckDB replays the
  * identical recurrence with `//` (truncating on non-negatives).
  */
object GraphQueries extends QueryRegistry {

  private val Iters = 3
  private val InitPpm = 1000000L
  private val DampPpm = 850000L
  private val BasePpm = InitPpm - DampPpm // (1-d) in ppm

  private def words(c: Column): Column = split(lower(c), " ")

  /** Weighted-PageRank power iteration over an edge list
    * (src, dst, w). `nodes` fixes the vertex set (isolated vertices
    * converge to (1-d) after one round). Returns (word→)node, score.
    *
    * Every `checkpointEvery` rounds the score frame is
    * [[graft.Materialize]]d: each iteration otherwise stacks two joins and
    * an aggregate onto the lineage, so analysis/optimization time grows
    * with the iteration count — invisible at the gate's 3 rounds, a
    * planner death spiral at a production 50+. Scores are one row per
    * vertex (graph-bounded, not corpus-bounded), so the materialization
    * is cheap. The gate queries never reach the threshold, keeping
    * their plans byte-identical to the unrolled SQL oracles. */
  private[graft] def pagerankPpm(
      edges: DataFrame, nodes: DataFrame, iters: Int,
      checkpointEvery: Int = 8): DataFrame = {
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    var scores = nodes.select(col("node"), lit(InitPpm).as("score"))
    for (i <- 1 to iters) {
      val inflow = edges.join(outw, "src")
        .join(scores.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(w * score) div outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      scores = nodes
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(BasePpm) + expr(s"($DampPpm * coalesce(inflow, 0L)) div ${InitPpm}"))
            .as("score"))
      if (i % checkpointEvery == 0 && i < iters)
        scores = graft.Materialize(scores)
    }
    scores
  }

  /** The same recurrence as SQL CTEs: s0..s{iters} over `edges`/`nodes`
    * CTEs that must already be in scope (columns src, dst, w / node). */
  private def pagerankSqlCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""i$k AS (
         |  SELECT dst, sum((w * score) // outw)::BIGINT AS inflow
         |  FROM edges JOIN outw USING (src)
         |  JOIN s${k - 1} ON s${k - 1}.node = edges.src
         |  GROUP BY dst),
         |s$k AS (
         |  SELECT n.node,
         |    ($BasePpm + ($DampPpm * coalesce(inflow, 0)) // $InitPpm)::BIGINT
         |      AS score
         |  FROM nodes n LEFT JOIN i$k ON i$k.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""outw AS (SELECT src, sum(w)::BIGINT AS outw FROM edges GROUP BY src),
       |s0 AS (SELECT node, $InitPpm::BIGINT AS score FROM nodes),
       |$steps""".stripMargin
  }

  /** qg01: TextRank keyword extraction — weighted PageRank over the
    * corpus-level word co-occurrence graph (adjacent-word edges, both
    * directions, self-loops dropped), top-20 words. The distributed part
    * is one corpus pass aggregating bigram counts; the graph itself is
    * vocabulary-bounded, so every later round is a small join. Top-k via
    * orderBy().limit() (TakeOrderedAndProject); rank derived after the
    * limit so no unpartitioned window sees unbounded input. */
  private def textrank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, dir).documents
      .select(words($"text").as("ws"))
    val occ = base.filter(size($"ws") > 1)
      .select(explode(transform(sequence(lit(1), size($"ws") - 1), i =>
        struct(element_at($"ws", i).as("a"),
          element_at($"ws", i + 1).as("b")))).as("bg"))
      .select($"bg.a", $"bg.b")
      .filter($"a" =!= $"b")
    val edges = occ.select($"a".as("src"), $"b".as("dst"))
      .unionByName(occ.select($"b".as("src"), $"a".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    val nodes = edges.select($"src".as("node")).distinct()
    val ranked = pagerankPpm(edges, nodes, Iters)
      .orderBy($"score".desc, $"node")
      .limit(20)
    val w = Window.orderBy($"score".desc, $"node")
    ranked.withColumn("rank", row_number().over(w))
      .select($"rank", $"node".as("word"), $"score".as("score_ppm"))
      .orderBy($"rank")
  }

  private val textrankSql =
    s"""WITH base AS (
       |  SELECT string_split(lower(text), ' ') AS ws FROM documents),
       |occ AS (
       |  SELECT ws[i] AS a, ws[i + 1] AS b
       |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |        FROM base WHERE len(ws) > 1)
       |  WHERE ws[i] <> ws[i + 1]),
       |edges AS (
       |  SELECT src, dst, count(*)::BIGINT AS w
       |  FROM (SELECT a AS src, b AS dst FROM occ
       |        UNION ALL SELECT b, a FROM occ)
       |  GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |${pagerankSqlCtes(Iters)}
       |SELECT rank, node AS word, score AS score_ppm
       |FROM (SELECT node, score,
       |        row_number() OVER (ORDER BY score DESC, node)::INT AS rank
       |      FROM s$Iters)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** qg02: centrality in the near-dup graph — PageRank over the MinHash/
    * LSH candidate-pair graph (qd03's edges, unweighted, both directions),
    * all documents as vertices. The curation use: rank duplicate-cluster
    * members by how connected they are, so canonical selection can prefer
    * the most central copy instead of min-doc_id (qd08). Candidate
    * generation is the only corpus-wide pass (signatures + band join);
    * iterations run over the collision pairs. */
  private def dupCentrality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = DedupQueries.lshPairsFrom(DedupQueries.signatures(s, dir))
    val edges = pairs.select($"a_id".as("src"), $"b_id".as("dst"))
      .unionByName(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
      .withColumn("w", lit(1L))
    val nodes = Tables(s, dir).documents.select($"doc_id".as("node"))
    val degree = edges.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("degree"))
    val ranked = pagerankPpm(edges, nodes, Iters)
      .join(degree, Seq("node"), "left")
      .select($"node", coalesce($"degree", lit(0L)).as("degree"), $"score")
      .orderBy($"score".desc, $"node")
      .limit(20)
    val w = Window.orderBy($"score".desc, $"node")
    ranked.withColumn("rank", row_number().over(w))
      .select($"rank", $"node".as("doc_id"), $"degree",
        $"score".as("score_ppm"))
      .orderBy($"rank")
  }

  private val dupCentralitySql =
    s"""${DedupQueries.sigSqlCte},
       |${DedupQueries.candSqlCtes},
       |edges AS (
       |  SELECT src, dst, 1::BIGINT AS w
       |  FROM (SELECT a_id AS src, b_id AS dst FROM cand
       |        UNION ALL SELECT b_id, a_id FROM cand)),
       |nodes AS (SELECT doc_id AS node FROM documents),
       |degree AS (SELECT src AS node, count(*)::BIGINT AS degree
       |           FROM edges GROUP BY src),
       |${pagerankSqlCtes(Iters)}
       |SELECT rank, node AS doc_id, degree, score AS score_ppm
       |FROM (SELECT s.node, coalesce(degree, 0) AS degree, score,
       |        row_number() OVER (ORDER BY score DESC, s.node)::INT AS rank
       |      FROM s$Iters s LEFT JOIN degree USING (node))
       |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** Deterministic "unlabeled" simulation: every 5th doc hides its
    * lang — inlined identically into the oracle. */
  private val UnknownMod = 5

  /** qg03: label propagation over the near-dup graph — semi-supervised
    * metadata completion (Zhu & Ghahramani 2002 lineage): documents
    * with missing labels inherit the majority label of their near-dup
    * neighbors (one propagation round, ties broken (votes desc, label
    * asc) so the imputation is hash-deterministic). The curation use:
    * recovering lang/source/license metadata lost in scraping — near-
    * duplicates almost surely share it. Docs with no labeled neighbor
    * report 'und' with 0 votes (the honest answer, never a guess).
    *
    * Scale shape: the one corpus-wide pass is qd03's candidate build;
    * voting joins the (unknown ∩ edges) slice against neighbor labels
    * — votes per doc are bounded by the doc's LSH collisions, and the
    * winner window partitions BY DOC over those few rows. */
  private def labelProp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val pairs = DedupQueries.lshPairsFrom(DedupQueries.signatures(s, dir))
    val edges = pairs.select($"a_id".as("dst"), $"b_id".as("src"))
      .unionByName(pairs.select($"b_id".as("dst"), $"a_id".as("src")))
    val known = docs.filter($"doc_id" % UnknownMod =!= 0)
      .select($"doc_id".as("src"), $"lang".as("n_lang"))
    val unknown = docs.filter($"doc_id" % UnknownMod === 0)
      .select($"doc_id", $"lang".as("true_lang"))
    val votes = unknown.join(edges, unknown("doc_id") === edges("dst"))
      .join(known, "src")
      .groupBy($"doc_id", $"true_lang", $"n_lang")
      .agg(count(lit(1)).as("n_votes"))
    val byDoc = Window.partitionBy($"doc_id")
      .orderBy($"n_votes".desc, $"n_lang")
    val winners = votes.withColumn("rn", row_number().over(byDoc))
      .filter($"rn" === 1)
      .select($"doc_id", $"n_lang", $"n_votes")
    unknown.join(winners, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_lang", lit("und")).as("imputed_lang"),
        coalesce($"n_votes", lit(0L)).as("n_votes"),
        $"true_lang",
        ($"true_lang" === coalesce($"n_lang", lit("und")))
          .cast("int").as("correct"))
      .orderBy($"doc_id")
  }

  private val labelPropSql =
    s"""${DedupQueries.sigSqlCte},
       |${DedupQueries.candSqlCtes},
       |edges AS (
       |  SELECT a_id AS dst, b_id AS src FROM cand
       |  UNION ALL SELECT b_id, a_id FROM cand),
       |known AS (
       |  SELECT doc_id AS src, lang AS n_lang FROM documents
       |  WHERE doc_id % $UnknownMod <> 0),
       |unknown AS (
       |  SELECT doc_id, lang AS true_lang FROM documents
       |  WHERE doc_id % $UnknownMod = 0),
       |votes AS (
       |  SELECT u.doc_id, u.true_lang, k.n_lang, count(*)::BIGINT AS n_votes
       |  FROM unknown u JOIN edges e ON e.dst = u.doc_id
       |  JOIN known k ON k.src = e.src
       |  GROUP BY u.doc_id, u.true_lang, k.n_lang),
       |winners AS (
       |  SELECT doc_id, n_lang, n_votes FROM (
       |    SELECT doc_id, n_lang, n_votes, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY n_votes DESC, n_lang) AS rn
       |    FROM votes) t WHERE rn = 1)
       |SELECT u.doc_id,
       |  coalesce(w.n_lang, 'und') AS imputed_lang,
       |  coalesce(w.n_votes, 0) AS n_votes,
       |  u.true_lang,
       |  (u.true_lang = coalesce(w.n_lang, 'und'))::INT AS correct
       |FROM unknown u LEFT JOIN winners w USING (doc_id)
       |ORDER BY u.doc_id""".stripMargin

  override val defs: Map[String, QueryDef] = Map(
    "qg01_textrank" -> QueryDef(textrank, Some(textrankSql), bench = true),
    "qg02_dup_centrality" -> QueryDef(dupCentrality, Some(dupCentralitySql)),
    "qg03_label_prop" -> QueryDef(labelProp, Some(labelPropSql)),
  )
}
