package graft

import graft.ops.{Curation, Decontamination, Dedup, Importance, Multimodal, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory: the reference's own surface (snapshot pushdown,
  * audit counts, type conversions, CDC envelope scalars — SURVEY §2.1-2.8)
  * plus every category the reference delegates to its source DB, exposed
  * through Spark built-ins (joins/aggs/windows/set-ops — SURVEY §2.4-2.6),
  * plus the training-data pipeline operators (dedup / similarity / text
  * analysis / multimodal).
  *
  * Oracle parity rules (every oracle-checked query):
  *   - identical column aliases in Spark and SQL;
  *   - doubles that get aggregated are cast to DECIMAL first (exact in
  *     both engines, independent of accumulation order), and the exact
  *     decimal result is cast back to DOUBLE for output — the driver
  *     renders DuckDB decimals as float64 but Spark parquet decimals as
  *     java Decimal, so any trailing-zero decimal cell ("x.60" vs "x.6")
  *     hash-mismatches; identical float64 bits render identically.
  *     NO DECIMAL COLUMN MAY REACH A DRIVER-FACING OUTPUT.
  *     Magnitude bound (ADVICE r2): "identical float64 bits" relies on
  *     correctly-rounded decimal->double conversion on both sides. Spark
  *     (BigDecimal.doubleValue) rounds correctly; DuckDB divides two
  *     doubles ((double)unscaled / 10^scale), which can double-round 1 ulp
  *     off once the unscaled value exceeds 2^53 (~9e15, i.e. sums beyond
  *     ~9e13 at scale 2). Our sf0.1 sums sit below 1e10 — 4 orders of
  *     margin; a query whose aggregate could cross 2^53 unscaled must
  *     round to a fixed dp instead (as the cosine queries already do);
  *   - cosine similarities are computed in double in BOTH engines
  *     (DuckDB: `::DOUBLE[]` cast) and rounded to 6 dp;
  *   - every query ends in a total ORDER BY (deterministic row order and
  *     LIMIT frontier).
  * Queries whose output would depend on graft-internal hashes (MinHash/
  * SimHash/LSH) instead emit a DuckDB-reproducible exact side plus a
  * deterministic in-plan recall/error bound on the approximate path
  * (q43/q44/q46/q52/q53/q54) — every query carries an oracle entry; the
  * raw hash-valued surfaces stay covered by specs.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_join_multi")(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: String, p: Int = 18, s: Int = 2) =
    col(c).cast(DecimalType(p, s))

  /** Co-purchase part graph shared by the graph faces (q177/q178/q191/
    * q205/q208): parts sharing an order, optional quantity floor —
    * one derivation, so the faces and their oracles can't drift apart.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String,
      minQty: Option[Int]): DataFrame = {
    val li0 = t(s, dir, "lineitem")
    val li = minQty.fold(li0)(q => li0.where(col("l_quantity") >= q))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .where(col("p1") < col("p2"))
      .select(col("p1"), col("p2"))
  }

  /** Exact embedding near-dup pairs over the deterministic vec_id < 500
    * subset (the O(n^2) oracle anchor shared by q51 and q52's recall
    * bound — the bound keeps the quadratic stage fixed-size no matter the
    * corpus, same device as q45).
    */
  /** The synthetic change stream q24/q70 share: events mapped onto the
    * raw-change contract (signup=c, purchase=u, error=d, else r).
    */
  private def eventChanges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      lit("db").as("db"), lit("s").as("schema"), lit("customer").as("table"),
      when(col("event_type") === "signup", "c")
        .when(col("event_type") === "purchase", "u")
        .when(col("event_type") === "error", "d")
        .otherwise("r").as("op"),
      col("event_id").as("ts_ms"),
      lit(null).cast("map<string,string>").as("before"),
      map(lit("id"), (col("user_id") + 1).cast(StringType),
        lit("name"), concat(lit("user_"), col("user_id"))).as("after"),
      col("event_id").as("lsn"), col("event_id").as("txId"))

  /** Fixed BPE merge list for q87 — a plan-time literal shared verbatim
    * with the DuckDB oracle (rank order IS the algorithm).
    */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"))

  /** Subword vocab for q90: ids 0-25 the letters, 26+ the merge products
    * in rank order — shared verbatim with the DuckDB oracle.
    */
  private[graft] val bpeVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ bpeMerges.map { case (a, b) => a + b }

  /** WordPiece piece vocabulary for q114: id 0 is [UNK]; single-char
    * coverage for a-z / 0-9 / common punctuation as BOTH start and
    * `##`-continuation pieces, plus a handful of multi-char pieces so
    * the greedy longest-match actually exercises backtracking lengths.
    * No apostrophes or backslashes (keeps the oracle's SQL literal
    * plain); words with uncovered characters become [UNK] whole, in
    * both engines, by the algorithm's own rule.
    */
  private[graft] val wordpieceVocab: Seq[String] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString) ++
      Seq(".", ",", "-", "_", "(", ")", ":", ";", "!", "?", "/")
    Seq("[UNK]") ++ chars ++ chars.map("##" + _) ++
      Seq("the", "cust", "ship", "pack", "supp", "ord", "data", "qu",
        "##ing", "##er", "##ed", "##tion", "##omer", "##ment", "##age",
        "##lier", "##ers", "##est")
  }

  private def exactEmbeddingPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
    // spread the streamed side of the nested-loop pair join across cores
    // (single-file inputs otherwise serialize the O(n^2) cosine work)
    val a = emb.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(graft.functions.vec_cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= 0.4)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Emits the DuckDB replay of [[graft.ops.Events.olsAdjust]]: per-
    * variant Gram moments (decimal-exact sums — the q218 device) over a
    * `perUser` subquery producing columns (v, y, x0..x{k-1}) with
    * variant labels 'A' < 'B', then the operator's pivotless
    * Gauss-Jordan unrolled — one CTE per elimination step, every entry
    * rebuilt from the previous step with the operator's exact
    * expression shape, so each intermediate double is bit-identical to
    * the driver-side solve. */
  private def olsOracleSql(perUser: String, k: Int,
      terms: Seq[String]): String = {
    require(terms.size == k)
    val p = k + 2
    val w = 2 * p + 1
    val d = "DECIMAL(38,12)"
    val notNull = (Seq("y") ++ (0 until k).map(i => s"x$i"))
      .map(c => s"$c IS NOT NULL").mkString(" AND ")
    val momAggs = (Seq("count(*)::BIGINT AS n",
      s"sum(CAST(y AS $d)) AS sy",
      s"sum(CAST(y * y AS $d)) AS syy") ++
      (0 until k).map(i => s"sum(CAST(x$i AS $d)) AS sx$i") ++
      (0 until k).map(i => s"sum(CAST(x$i * y AS $d)) AS sx${i}y") ++
      (for { i <- 0 until k; j <- i until k }
        yield s"sum(CAST(x$i * x$j AS $d)) AS sx${i}x$j"))
      .mkString(",\n    ")
    def pa(f: String) = s"max(CASE WHEN v = 'A' THEN $f END)"
    def pb(f: String) = s"max(CASE WHEN v = 'B' THEN $f END)"
    def bothD(f: String) = s"(${pa(f)} + ${pb(f)})::DOUBLE AS $f"
    val momentNames = Seq("sy", "syy") ++
      (0 until k).map(i => s"sx$i") ++
      (0 until k).map(i => s"sx${i}y") ++
      (for { i <- 0 until k; j <- i until k } yield s"sx${i}x$j")
    val pvCols = (Seq(
      s"(${pa("n")} + ${pb("n")})::BIGINT AS n",
      s"${pb("n")}::BIGINT AS nb",
      s"${pb("sy")}::DOUBLE AS syb") ++
      (0 until k).map(i => s"${pb(s"sx$i")}::DOUBLE AS sxb$i") ++
      momentNames.map(bothD)).mkString(",\n    ")
    // initial augmented [XᵀX | Xᵀy | I], design order (1, T, x₀..)
    def gram(r: Int, c: Int): String = (r, c) match {
      case (0, 0)           => "n::DOUBLE"
      case (0, 1) | (1, 1)  => "nb::DOUBLE"
      case (0, c2)          => s"sx${c2 - 2}"
      case (1, c2)          => s"sxb${c2 - 2}"
      case (r2, c2) =>
        s"sx${math.min(r2 - 2, c2 - 2)}x${math.max(r2 - 2, c2 - 2)}"
    }
    def init(r: Int, j: Int): String =
      if (j < p) { if (j >= r) gram(r, j) else gram(j, r) }
      else if (j == p) r match {
        case 0 => "sy"
        case 1 => "syb"
        case i => s"sx${i - 2}y"
      }
      else if (j == p + 1 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
    val rhs = (0 until p).map {
      case 0 => "pv.sy"
      case 1 => "pv.syb"
      case i => s"pv.sx${i - 2}y"
    }
    s"""WITH u AS MATERIALIZED ($perUser),
       |mom AS MATERIALIZED (
       |  SELECT v, $momAggs
       |  FROM u WHERE v IS NOT NULL AND $notNull GROUP BY v),
       |pv AS MATERIALIZED (SELECT
       |    $pvCols
       |  FROM mom),
       |${gjUnrollSql(p, init, rhs, "intercept" +: "treatment" +: terms)}"""
      .stripMargin
  }

  /** The shared tail of the OLS oracles: from a 1-row CTE `pv`
    * carrying `n` (BIGINT), `syy` and every moment the `init`/`rhs`
    * expressions reference, emits the unrolled pivotless Gauss-Jordan
    * (one CTE per elimination step, the operator's exact expression
    * shapes) plus the per-term readout. Returns the SQL fragment from
    * `g0` onward (caller supplies the WITH prefix ending at `pv`). */
  /** The bare unrolled pivotless elimination as a prefixed CTE chain —
    * `gjUnrollSql`'s steps without the term-row readout, composable
    * (two chains with distinct prefixes share one `pv`). Emits CTEs
    * `${prefix}0 .. ${prefix}p`; the final one holds `g_r_{p}` (β) and
    * `g_r_{p+1+r}` (inverse diagonal) in the operator's exact
    * expression shapes. */
  private def gjChainSql(p: Int, init: (Int, Int) => String,
      fromCte: String, prefix: String): String = {
    val w = 2 * p + 1
    val g0 = (for { r <- 0 until p; j <- 0 until w }
      yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
    val steps = (0 until p).map { c =>
      val entries = (for { r <- 0 until p; j <- 0 until w } yield {
        val e =
          if (r == c) s"(g_${c}_$j / g_${c}_$c)"
          else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
        s"$e AS g_${r}_$j"
      }).mkString(",\n    ")
      val from = if (c == 0) s"${prefix}0" else s"$prefix$c"
      s"$prefix${c + 1} AS (SELECT\n    $entries\n  FROM $from)"
    }.mkString(",\n")
    s"""${prefix}0 AS (SELECT
       |    $g0
       |  FROM $fromCte),
       |$steps""".stripMargin
  }

  private def gjUnrollSql(p: Int, init: (Int, Int) => String,
      rhs: Seq[String], terms: Seq[String]): String = {
    val w = 2 * p + 1
    val g0 = (for { r <- 0 until p; j <- 0 until w }
      yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
    val steps = (0 until p).map { c =>
      val entries = (for { r <- 0 until p; j <- 0 until w } yield {
        val e =
          if (r == c) s"(g_${c}_$j / g_${c}_$c)"
          else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
        s"$e AS g_${r}_$j"
      }).mkString(",\n    ")
      val from = if (c == 0) "g0" else s"s$c"
      s"s${c + 1} AS (SELECT\n    $entries\n  FROM $from)"
    }.mkString(",\n")
    val rss = (0 until p).foldLeft("pv.syy") { (acc, i) =>
      s"($acc - (s.g_${i}_$p * ${rhs(i)}))"
    }
    val algCols = (Seq("pv.n AS n", s"(pv.n - $p)::DOUBLE AS dof",
      s"$rss AS rss",
      "(pv.syy - ((pv.sy * pv.sy) / (pv.n)::DOUBLE)) AS sst") ++
      (0 until p).map(i => s"s.g_${i}_$p AS beta$i") ++
      (0 until p).map(i => s"s.g_${i}_${p + 1 + i} AS inv$i"))
      .mkString(",\n    ")
    val termRows = terms.zipWithIndex
      .map { case (term, i) =>
        val se = s"sqrt(greatest((rss / dof), 0.0::DOUBLE) * inv$i)"
        s"""SELECT $i AS term_idx, '$term' AS term, n,
           |  round(beta$i, 6) AS coef, round($se, 6) AS se,
           |  CASE WHEN round($se, 6) > 0.0::DOUBLE
           |    THEN round(beta$i / $se, 6) END AS t_stat,
           |  CASE WHEN sst > 0.0::DOUBLE
           |    THEN round((1.0::DOUBLE - (rss / sst)), 6) END AS r2
           |FROM alg""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""g0 AS (SELECT
       |    $g0
       |  FROM pv),
       |$steps,
       |alg AS MATERIALIZED (SELECT
       |    $algCols
       |  FROM s$p AS s, pv)
       |$termRows
       |ORDER BY term_idx""".stripMargin
  }

  /** [[graft.ops.Events.ridgeFit]]'s DuckDB replay: the OLS Gram
    * moments with `lambda` added to the non-intercept diagonal before
    * the same unrolled pivotless elimination; readout is coefficients
    * only (term_idx, term, n, lambda, coef). */
  private def ridgeOracleSql(perRow: String, k: Int,
      terms: Seq[String], lambda: Double): String = {
    require(terms.size == k)
    val p = k + 1
    val w2 = 2 * p + 1
    val d = "DECIMAL(38,12)"
    val notNull = (Seq("y") ++ (0 until k).map(i => s"x$i"))
      .map(c => s"$c IS NOT NULL").mkString(" AND ")
    val momAggs = (Seq("count(*)::BIGINT AS n",
      s"sum(CAST(y AS $d))::DOUBLE AS sy") ++
      (0 until k).map(i => s"sum(CAST(x$i AS $d))::DOUBLE AS sx$i") ++
      (0 until k).map(i =>
        s"sum(CAST(x$i * y AS $d))::DOUBLE AS sx${i}y") ++
      (for { i <- 0 until k; j <- i until k }
        yield s"sum(CAST(x$i * x$j AS $d))::DOUBLE AS sx${i}x$j"))
      .mkString(",\n    ")
    def init(r: Int, j: Int): String = {
      def gram(a: Int, b: Int): String =
        if (a == 0 && b == 0) "n::DOUBLE"
        else if (a == 0) s"sx${b - 1}"
        else s"sx${math.min(a - 1, b - 1)}x${math.max(a - 1, b - 1)}"
      val base =
        if (j < p) { if (j >= r) gram(r, j) else gram(j, r) }
        else if (j == p) { if (r == 0) "sy" else s"sx${r - 1}y" }
        else if (j == p + 1 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
      if (j < p && j == r && r >= 1) s"($base + $lambda::DOUBLE)"
      else base
    }
    val g0 = (for { r <- 0 until p; j <- 0 until w2 }
      yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
    val steps = (0 until p).map { c =>
      val entries = (for { r <- 0 until p; j <- 0 until w2 } yield {
        val e =
          if (r == c) s"(g_${c}_$j / g_${c}_$c)"
          else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
        s"$e AS g_${r}_$j"
      }).mkString(",\n    ")
      val from = if (c == 0) "g0" else s"s$c"
      s"s${c + 1} AS (SELECT\n    $entries\n  FROM $from)"
    }.mkString(",\n")
    val termRows = ("intercept" +: terms).zipWithIndex
      .map { case (term, i) =>
        s"""SELECT $i AS term_idx, '$term' AS term, pv.n AS n,
           |  $lambda::DOUBLE AS lambda,
           |  round(s.g_${i}_$p, 6) AS coef
           |FROM s$p AS s, pv""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH u AS MATERIALIZED ($perRow),
       |pv AS MATERIALIZED (
       |  SELECT $momAggs
       |  FROM u WHERE $notNull),
       |g0 AS (SELECT
       |    $g0
       |  FROM pv),
       |$steps
       |$termRows
       |ORDER BY term_idx""".stripMargin
  }

  /** [[graft.ops.Events.olsFit]]'s DuckDB replay: single ungrouped
    * Gram moments over a `perRow` subquery producing (y, x0..x{k-1}),
    * then the shared unrolled elimination. */
  private def olsFitOracleSql(perRow: String, k: Int,
      terms: Seq[String]): String = {
    require(terms.size == k)
    val p = k + 1
    val d = "DECIMAL(38,12)"
    val notNull = (Seq("y") ++ (0 until k).map(i => s"x$i"))
      .map(c => s"$c IS NOT NULL").mkString(" AND ")
    val momAggs = (Seq("count(*)::BIGINT AS n",
      s"sum(CAST(y AS $d))::DOUBLE AS sy",
      s"sum(CAST(y * y AS $d))::DOUBLE AS syy") ++
      (0 until k).map(i => s"sum(CAST(x$i AS $d))::DOUBLE AS sx$i") ++
      (0 until k).map(i =>
        s"sum(CAST(x$i * y AS $d))::DOUBLE AS sx${i}y") ++
      (for { i <- 0 until k; j <- i until k }
        yield s"sum(CAST(x$i * x$j AS $d))::DOUBLE AS sx${i}x$j"))
      .mkString(",\n    ")
    def init(r: Int, j: Int): String = {
      def gram(a: Int, b: Int): String =
        if (a == 0 && b == 0) "n::DOUBLE"
        else if (a == 0) s"sx${b - 1}"
        else s"sx${math.min(a - 1, b - 1)}x${math.max(a - 1, b - 1)}"
      if (j < p) { if (j >= r) gram(r, j) else gram(j, r) }
      else if (j == p) { if (r == 0) "sy" else s"sx${r - 1}y" }
      else if (j == p + 1 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
    }
    val rhs = (0 until p).map {
      case 0 => "pv.sy"
      case i => s"pv.sx${i - 1}y"
    }
    s"""WITH u AS MATERIALIZED ($perRow),
       |pv AS MATERIALIZED (
       |  SELECT $momAggs
       |  FROM u WHERE $notNull),
       |${gjUnrollSql(p, init, rhs, "intercept" +: terms)}"""
      .stripMargin
  }

  /** DuckDB replay of [[graft.ops.Events]]' IRLS core (`irlsBeta`):
    * `iters` unrolled Newton steps over a `perRow` subquery whose
    * response column is `yName` and covariates `xNames` — per step a
    * mu/w projection against the previous betas, decimal-quantized
    * Hessian + gradient moments, the pivotless elimination in
    * `gjUnrollSql`'s exact expression shapes, and the beta update.
    * Emits the WITH body through `b{iters}` (betas c0..ck),
    * `e{iters}_{k+1}` (final elimination state — inverse-Hessian diag
    * at g_r_{p+1+r}) and `q{iters}` (n); callers append readouts. */
  private def logitIrlsSql(perRow: String, yName: String,
      xNames: Seq[String], iters: Int): String =
    glmIrlsSql(perRow, yName, xNames, iters,
      eta => s"1.0::DOUBLE / (1.0::DOUBLE +\n    exp(-($eta)))",
      "(mu * (1.0::DOUBLE - mu))")

  /** Family-generic IRLS unroll (`glmBeta`'s replay): `muSql` renders
    * the inverse link from the eta expression, `wSql` the Fisher
    * weight in terms of `mu`, `residSql` the gradient residual in
    * terms of `$yName`/`mu` (defaults to the canonical `(y - mu)`),
    * and `seedIntercept` replays the log-link families' ln ȳ start. */
  private def glmIrlsSql(perRow: String, yName: String,
      xNames: Seq[String], iters: Int,
      muSql: String => String, wSql: String,
      residSql: String = null,
      seedIntercept: Boolean = false): String = {
    val k = xNames.size
    val p = k + 1
    val w2 = 2 * p + 1
    val d = "DECIMAL(38,12)"
    val c0 =
      if (seedIntercept)
        s"(SELECT ln(sum(CAST($yName AS $d))::DOUBLE / " +
          "count(*)::DOUBLE) FROM u)"
      else "0.0::DOUBLE"
    val b0 = (s"$c0 AS c0" +:
      (1 to k).map(i => s"0.0::DOUBLE AS c$i")).mkString(", ")
    val resid = Option(residSql).getOrElse(s"($yName - mu)")
    def etaExpr(alias: String) =
      (0 until k).foldLeft(s"$alias.c0")((acc, i) =>
        s"($acc + $alias.c${i + 1} * ${xNames(i)})")
    def hTerm(r: Int, c: Int) =
      if (r == 0 && c == 0) "w"
      else if (r == 0) s"w * ${xNames(c - 1)}"
      else s"w * ${xNames(r - 1)} * ${xNames(c - 1)}"
    def gTerm(r: Int) =
      if (r == 0) resid else s"$resid * ${xNames(r - 1)}"
    val iterCtes = (1 to iters).map { it =>
      val mom = (Seq("count(*)::BIGINT AS n") ++
        (for { r <- 0 until p; c <- r until p }
          yield s"sum(CAST(${hTerm(r, c)} AS $d))::DOUBLE AS h_${r}_$c") ++
        (0 until p).map(r =>
          s"sum(CAST(${gTerm(r)} AS $d))::DOUBLE AS g_$r"))
        .mkString(",\n    ")
      def init(r: Int, j: Int): String =
        if (j < p) s"h_${math.min(r, j)}_${math.max(r, j)}"
        else if (j == p) s"g_$r"
        else if (j == p + 1 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
      val g0 = (for { r <- 0 until p; j <- 0 until w2 }
        yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
      val steps = (0 until p).map { c =>
        val entries = (for { r <- 0 until p; j <- 0 until w2 } yield {
          val e2 =
            if (r == c) s"(g_${c}_$j / g_${c}_$c)"
            else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
          s"$e2 AS g_${r}_$j"
        }).mkString(",\n    ")
        val from = if (c == 0) s"e${it}_0" else s"e${it}_$c"
        s"e${it}_${c + 1} AS (SELECT\n    $entries\n  FROM $from)"
      }.mkString(",\n")
      val bNew = (0 to k)
        .map(i => s"(b.c$i + s.g_${i}_$p) AS c$i").mkString(", ")
      s"""m$it AS (SELECT *, $wSql AS w FROM (
         |  SELECT u.*, ${muSql(etaExpr("b"))} AS mu
         |  FROM u, b${it - 1} b)),
         |q$it AS MATERIALIZED (SELECT
         |    $mom
         |  FROM m$it),
         |e${it}_0 AS (SELECT
         |    $g0
         |  FROM q$it),
         |$steps,
         |b$it AS MATERIALIZED (SELECT $bNew FROM b${it - 1} b, e${it}_$p s)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH u AS MATERIALIZED ($perRow),
       |b0 AS (SELECT $b0),
       |$iterCtes""".stripMargin
  }

  /** The Holt-Winters recursion as a DuckDB recursive CTE over the
    * per-event-type daily spine — state row (t, ℓ, b, s1..sm, error
    * accumulators), each step [[graft.ops.Events.holtWinters]]'s exact
    * expression shapes (the q232/q234 shared prefix; callers append
    * their final SELECT over `hw`). */
  private def hwOracleCte(m: Int, t0: Int, a: Double, bb: Double,
      g: Double): String = {
    def d(v: Double) = s"$v::DOUBLE"
    val xCols = (0 until 2 * m).map(i =>
      s"max(CASE WHEN idx = $i THEN x END) AS x$i").mkString(",\n    ")
    def lsum(lo: Int, hi: Int) =
      (lo until hi).map(i => s"x$i").reduceLeft((acc, v) => s"($acc + $v)")
    val sInit = (0 until m).map(i => s"x$i - l AS s${i + 1}")
      .mkString(", ")
    val sNames = (1 to m).map(i => s"s$i").mkString(", ")
    val lNew = s"${d(a)} * (x.x - hw.s1) + ${d(1 - a)} * (hw.l + hw.b)"
    val shift = (2 to m).map(i => s"hw.s$i").mkString(", ")
    val e = "(x.x - (hw.l + hw.b + hw.s1))"
    s"""WITH RECURSIVE pts AS (
       |  SELECT event_type AS key,
       |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))::INT
       |      AS idx,
       |    count(*)::BIGINT AS n
       |  FROM events WHERE event_type IS NOT NULL
       |  GROUP BY 1, 2),
       |ptf AS (SELECT * FROM pts WHERE idx >= 0 AND idx < $t0),
       |keys AS (SELECT DISTINCT key FROM ptf),
       |spine AS (SELECT key, unnest(range(0, $t0))::INT AS idx FROM keys),
       |xs AS (SELECT s.key, s.idx, coalesce(p.n, 0)::DOUBLE AS x
       |       FROM spine s LEFT JOIN ptf p
       |         ON p.key = s.key AND p.idx = s.idx),
       |piv AS (SELECT key,
       |    $xCols
       |  FROM xs GROUP BY key),
       |init0 AS (SELECT key, ${(0 until m).map(i => s"x$i").mkString(", ")},
       |    ${lsum(0, m)} / ${d(m.toDouble)} AS l,
       |    ${lsum(m, 2 * m)} / ${d(m.toDouble)} AS a2
       |  FROM piv),
       |init AS (SELECT key, l, (a2 - l) / ${d(m.toDouble)} AS b,
       |    $sInit
       |  FROM init0),
       |hw AS (
       |  SELECT key, ${m - 1} AS t, l, b,
       |    $sNames,
       |    0.0::DOUBLE AS sae, 0.0::DOUBLE AS sse,
       |    0.0::DOUBLE AS sape, 0.0::DOUBLE AS nz FROM init
       |  UNION ALL
       |  SELECT hw.key, hw.t + 1,
       |    $lNew,
       |    ${d(bb)} * (($lNew) - hw.l) + ${d(1 - bb)} * hw.b,
       |    $shift,
       |    ${d(g)} * (x.x - hw.l - hw.b) + ${d(1 - g)} * hw.s1,
       |    hw.sae + abs($e),
       |    hw.sse + ($e * $e),
       |    hw.sape + CASE WHEN x.x <> 0.0::DOUBLE
       |      THEN abs($e) / abs(x.x) ELSE 0.0::DOUBLE END,
       |    hw.nz + CASE WHEN x.x <> 0.0::DOUBLE
       |      THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
       |  FROM hw JOIN xs x ON x.key = hw.key AND x.idx = hw.t + 1
       |  WHERE hw.t < ${t0 - 1})""".stripMargin
  }

  /** The named [[queries]], in the given order. Any unknown name fails
    * here, before a query runs: a typo must not yield a silently empty
    * timing or dump. */
  def pick(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ================= reference surface (librarian §2.1-2.8) =============

    // S5/§2.3: the archetypal pushed-down snapshot query — projection +
    // filter + sort (cf. dev/examples/property-sales.snapshot.yml).
    "q20_snapshot_projection" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1995-09-01").cast(TimestampType))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // A1: audit count wrapper SELECT COUNT(*) FROM (<query>).
    "q21_audit_count" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 25)
        .agg(count(lit(1)).as("num_source_records"))
    }),

    // T1-T4: declared-schema type conversions (date/decimal/timestamp).
    "q22_typed_preserve" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          dec("o_totalprice", 12, 2).cast(DoubleType).as("total_dec"),
          // day-truncated TIMESTAMP, not DATE: the driver renders Spark
          // date32 and DuckDB DATE differently; timestamps hash identically
          // (proven by q20/q23). Day granularity is preserved.
          date_trunc("day", col("o_orderdate")).as("order_date"),
          unix_millis(col("o_orderdate")).as("order_ts_ms"))
        .orderBy(col("o_orderkey"))
    }),

    // T5-T8: CDC envelope scalars — Kafka key synthesis + op + ts_ms.
    "q23_envelope_scalars" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          concat_ws(".", lit("appdb"), lit("public"), lit("events")).as("key"),
          when(col("event_type") === "signup", "c")
            .when(col("event_type") === "purchase", "u")
            .when(col("event_type") === "error", "d")
            .otherwise("r").as("op"),
          unix_millis(col("ts")).as("ts_ms"))
        .orderBy(col("event_id"))
    }),

    // CDC apply: materialize a change batch onto base state (latest LSN
    // per key wins, deletes drop, unchanged base passes through). Changes
    // synthesized from events; base = customer.
    "q24_cdc_apply" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").cast(StringType).as("id"), col("c_name").as("name"))
      graft.cdc.Apply.applyChanges(base, eventChanges(s, dir), "id", Seq("name"))
        .orderBy(col("id").cast(LongType))
    }),

    // SCD type-2 history from the same change stream (oracle-checked):
    // one versioned row per non-delete change, valid_from/valid_to from
    // the per-key lead window, deletes closing the final interval — the
    // lakehouse consumer shape q24's merge materializes the tip of.
    "q70_scd2_history" -> ((s, dir) =>
      graft.cdc.Apply.scd2History(eventChanges(s, dir), "id", Seq("name"))
        .orderBy(col("id").cast(LongType), col("valid_from"))),

    // ============ categories the reference pushes to its source DB ========

    // §2.5 aggregation (TPC-H Q1 shape).
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // compute exactly in decimal, EMIT double: the driver renders
          // DuckDB decimals as float64 but Spark parquet decimals as
          // java Decimal, so any trailing-zero cell ("x.60" vs "x.6")
          // hash-mismatches. A final double cast of the exact decimal sum
          // yields bit-identical float64 on both engines.
          sum(dec("l_quantity")).cast(DoubleType).as("sum_qty"),
          sum(dec("l_extendedprice")).cast(DoubleType).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // §2.4 joins: orders->customer->nation->region with broadcast dims.
    "q10_join_multi" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(dec("o_totalprice")).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))
    }),

    // §2.4 semi join (EXISTS).
    "q11_semi_join" -> ((s, dir) => {
      val haveOrders = t(s, dir, "customer").join(
        t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      haveOrders.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // §2.4 anti join (NOT EXISTS): customers without an urgent order.
    "q12_anti_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // §2.6 window: top-3 orders per priority (rank + deterministic ties).
    "q13_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          dec("o_totalprice", 12, 2).cast(DoubleType).as("total_dec"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    // §2.6 window: running sum per supplier (frame-based).
    "q14_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(dec("l_quantity")).over(w).cast(DoubleType).as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // §2.6 sort + limit (top-k with deterministic ties).
    "q15_sort_limit" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          dec("l_extendedprice", 12, 2).cast(DoubleType).as("price_dec"))
        .orderBy(col("price_dec").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
    }),

    // §2.6 set ops: INTERSECT / EXCEPT.
    "q16_set_ops" -> ((s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("k"))
      building.intersect(withOrders).orderBy(col("k"))
    }),

    // §2.5 grouping sets (ROLLUP).
    "q17_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec("l_quantity")).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("flag"), col("status"))
    }),

    // §2.5 distinct aggregation.
    "q18_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // §2.5 approximate aggregation: HLL distinct + quantile sketches.
    // Oracle-checked via the exact side: the sketch values themselves are
    // engine-internal, so the query emits the EXACT aggregates plus
    // error-bound booleans (sketch within 5% of exact / 2% of exact
    // quantile) — DuckDB reproduces the exact side and literal TRUEs. If
    // a sketch regresses past its bound, the boolean flips and the
    // driver's hash catches it.
    "q46_approx" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          approx_count_distinct(col("l_partkey")).as("ap"),
          approx_count_distinct(col("l_orderkey")).as("ao"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50a"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("p99a"),
          expr("percentile(l_extendedprice, 0.5)").as("p50e"),
          expr("percentile(l_extendedprice, 0.99)").as("p99e"))
        .select(
          col("n_parts"), col("n_orders"),
          round(col("p50e"), 4).as("p50"), round(col("p99e"), 4).as("p99"),
          // 3x the sketch's rsd (default 0.05): a 1-sigma bound holds only
          // ~68% of the time and did fail at sf0.001; 3-sigma is the
          // standard deterministic-data bound and still catches a sketch
          // regression by an order of magnitude
          (abs(col("ap") - col("n_parts")) <= col("n_parts") * 0.15).as("parts_err_ok"),
          (abs(col("ao") - col("n_orders")) <= col("n_orders") * 0.15).as("orders_err_ok"),
          (abs(col("p50a") - col("p50e")) <= abs(col("p50e")) * 0.02).as("p50_err_ok"),
          (abs(col("p99a") - col("p99e")) <= abs(col("p99e")) * 0.02).as("p99_err_ok"))
    }),

    // event-time tumbling window aggregation (batch form; the streaming
    // form with watermarks is in graft.cdc / StreamingSpec).
    "q30_events_tumbling" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // semi-structured JSON extraction.
    "q31_events_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    // sessionization via lag window (30-minute gaps).
    "q32_events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            (unix_millis(col("ts")) - unix_millis(col("prev"))) > 1800000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // §2.4 as-of join (point-in-time): latest order at-or-before a derived
    // per-event cutoff, per customer. Composed as tagged-union + running
    // window (one shuffle; no range explosion) — see ops/AsOfJoin.
    "q19_asof_join" -> ((s, dir) => {
      val cutoff = expr(
        "timestamp'1995-01-01' + make_interval(0, 0, 0, cast(event_id % 2000 as int), 0, 0, 0)")
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), cutoff.as("cut_ts"))
      // deterministic right side: one row per (custkey, orderdate)
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      graft.ops.AsOfJoin.asOf(
          ev, "user_id", "cut_ts",
          ord.withColumnRenamed("o_orderdate", "o_ts"), "o_custkey", "o_ts",
          payload = Seq("o_orderkey", "o_ts"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"),
          col("o_ts").as("o_orderdate"))
        .orderBy(col("event_id"))
    }),

    // ================= training-data pipeline operators ===================

    // exact dedup audit: survivor id + copy count per text key.
    "q40_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(col("keep_id"), col("copies"))
        .orderBy(col("keep_id"))
    }),

    // text stats (oracle-expressible subset).
    "q41_text_stats" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        length(text).as("n_chars"),
        TextAnalysis.tokenCount(text).cast(LongType).as("n_tokens"),
        round(TextAnalysis.punctRatio(text), 4).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(text), 4).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // full text-analysis surface (oracle-checked): every documentStats
    // column EXCEPT the graft-internal fingerprint hash — quality score,
    // stopword-profile language ID, token/char stats are all deterministic
    // arithmetic DuckDB reproduces. Fingerprint coverage stays in
    // TextAnalysisSpec (stability under whitespace/case noise).
    "q42_text_full" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        length(text).as("n_chars"),
        TextAnalysis.tokenCount(text).cast(LongType).as("n_tokens"),
        TextAnalysis.bpeTokenCount(text).cast(LongType).as("n_bpe_tokens"),
        round(TextAnalysis.punctRatio(text), 4).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(text), 4).as("stopword_ratio"),
        round(TextAnalysis.meanTokenLen(text), 4).as("mean_token_len"),
        TextAnalysis.qualityScore(text).as("quality"),
        TextAnalysis.langId(text).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // MinHash-LSH near-dup pairs, oracle-checked against the exact
    // all-pairs word-trigram Jaccard: the pipeline's OUTPUT is the exact
    // jaccard over candidates, so when LSH recall is 1.0 (it is at this
    // threshold/banding — (128, 32) crosses 50% match probability at
    // j~0.42, and every true pair sits at j>=0.5) the result set equals
    // the exact computation. A recall regression would drop rows and fail
    // the driver's row/hash check. Jaccard over 64-bit shingle hashes ==
    // jaccard over string shingles modulo ~1e-19/pair collisions.
    "q43_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // SimHash near-dup under the oracle via the exact-side + recall-bound
    // device (q53/q54): output = the exact near-dup pair set (the
    // oracle-checked q43 computation — recall 1.0 vs all-pairs, so DuckDB
    // reproduces it) + a deterministic bound on full-table SimHash
    // candidate recall over those pairs, computed lazily in-plan.
    // Measured: Hamming<=3 finds 16/25 (0.64) at sf0.01 — bound 0.5; a
    // SimHash banding/signature regression flips the boolean -> hash
    // mismatch. Raw SimHash pair output stays covered by DedupSpec.
    "q44_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = Dedup.minhashPairs(docs, "doc_id", "text",
        shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
      val simC = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
        .select(col("id_a"), col("id_b")).withColumn("hit", lit(1))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(simC, Seq("id_a", "id_b"), "left")
        .withColumn("simhash_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) * 2L >= count(lit(1)).over(w))
        .drop("hit")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // transitive near-dup clusters (oracle-checked): connected components
    // over the exact near-dup pair set — each doc labeled with its
    // cluster's minimum id (the survivor). Pointer-jumping label
    // propagation on Spark; a recursive CTE reproduces the closure in
    // DuckDB. Chains collapse fully: a-b, b-c share one cluster even when
    // a-c never paired (greedy drop-larger would keep two survivors).
    "q62_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    // Keep-BEST survivor dedup (oracle-checked): q62's clusters, but the
    // survivor is the cluster member with the most tokens (tie: lowest
    // id) — the production policy (keep the longest copy), vs q62's
    // min-id representative. Output = surviving docs + token counts.
    "q96_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashDedupKeepBest(docs, "doc_id", "text",
          size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long"),
          shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"),
          size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Dedup-audit histogram (oracle-checked): cluster-size distribution
    // of the q62 components — the one-page artifact a dedup run reports
    // (how much mass sits in how-big duplicate groups).
    "q89_cluster_sizes" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // n-gram Jaccard similarity, exact (oracle-checked): all pairs with
    // word-trigram jaccard >= 0.02 among the first 100 docs.
    "q45_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      val sh = array_distinct(TextAnalysis.wordShingles(
        TextAnalysis.tokens(col("text")), 3))
      val withSh = docs.select(col("doc_id"), sh.as("sh"))
      val a = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
        .filter(col("jaccard") >= 0.02)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // deterministic stratified sampling: cap each language at 30 docs,
    // hash-ordered (reproducible across engines — md5-based score).
    "q48_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(t(s, dir, "documents"), Seq("lang"), "doc_id", 30)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // corpus-level n-gram stats: top word-trigrams with deterministic ties.
    // (repartition first: the shingle HOF is CPU-bound and the input is a
    // single file split)
    "q49_top_ngrams" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(TextAnalysis.wordShingles(toks, 3)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)
    }),

    // composed curation pipeline: quality gate -> exact dedup -> annotate
    // (oracle-checked subset — token-count/punct gates + keep-first dedup).
    "q47_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val filtered = Curation.qualityFilter(docs, "text", 20, 5000, 0.2)
      Dedup.exactKeepFirst(filtered, Seq("text"), "doc_id")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // within-document repetition rate (oracle-checked): duplicate word
    // bigram fraction per doc — the Gopher repetition-family signal.
    "q58_repetition" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        (size(toks) - 1).cast(LongType).as("n_bigrams"),
        round(TextAnalysis.repetitionRatio(toks, 2), 4).as("dup_bigram_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Gopher/MassiveText quality rules (oracle-checked): the published
    // per-document gates (Rae et al. 2021 A1.1) as one map-only pass.
    "q57_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // benchmark decontamination (oracle-checked): training docs sharing
    // >=1 distinct word 8-gram with the benchmark partition (doc_id%10==0
    // stands in for the eval suite), with the shared-gram count. Gram
    // hashes stand in for gram strings (same device as q43).
    "q55_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      Decontamination.overlapReport(train, "doc_id", "text", bench, "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // temperature-scaled domain mixture (oracle-checked): per-language
    // token counts -> sampling weights w_d ∝ n_d^0.7 and implied epochs
    // for a 1M-token budget — the published multilingual sampling rule.
    // One corpus scan + tiny-frame arithmetic, normalizer broadcast.
    "q69_domain_mixture" -> ((s, dir) => {
      val perLang = t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
      Sampling.temperatureMixture(perLang, "lang", "n_tokens",
        tau = 0.7, tokenBudget = 1000000L)
        .orderBy(col("lang"))
    }),

    // DSIR-style importance weights (oracle-checked): per-doc unigram
    // log-likelihood ratio of the target language model (lang='en' docs)
    // over the raw corpus model, add-one smoothed (Xie et al. 2023). The
    // oracle rebuilds both models from the same token stream; ln deltas
    // across engines sit ~1e-15, absorbed by round 6.
    "q67_dsir_weights" -> ((s, dir) =>
      Importance.dsirScores(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
        .orderBy(col("doc_id"))),

    // within-corpus duplicated n-gram spans (oracle-checked): per doc, how
    // many of its distinct word 8-grams appear in >=1 OTHER doc — the
    // distributed approximation of exact-substring dedup (Lee et al.
    // 2021). Gram hashes stand in for gram strings (the q43/q55 device);
    // DuckDB reproduces the counts from the gram strings themselves.
    "q66_dup_ngrams" -> ((s, dir) =>
      Dedup.duplicatedGramReport(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))),

    // deterministic hash split (oracle-checked): train/val/test assignment
    // as a pure function of the id — reproducible cross-engine from
    // md5(id) alone, zero-shuffle at any scale.
    "q56_hash_split" -> ((s, dir) =>
      Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // sequence packing (oracle-checked): docs in id order concatenated
    // and cut into ~512-token packs via a DISTRIBUTED prefix sum (per-
    // range-partition running sums + broadcast offsets — no global
    // single-partition window).
    "q61_sequence_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      Curation.packSequential(docs, "doc_id", "n_tokens", budget = 512L)
        .select(col("doc_id"), col("n_tokens"), col("pack_id"))
        .orderBy(col("doc_id"))
    }),

    // mergeable distinct-count sketches (oracle-checked): per-group HLL
    // sketches (Spark's datasketches built-ins — the persist-partial-
    // sketches-then-union pattern every sharded pipeline needs), union-
    // merged IN-PLAN to a corpus estimate checked against the exact
    // distinct count (q46's deterministic error-bound device; the sketch
    // is deterministic, so the boolean is too). Exact per-group counts
    // are the DuckDB-reproducible output.
    "q65_hll_merge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val perFlag = li.groupBy(col("l_returnflag"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"),
          count_distinct(col("l_partkey")).as("nd_parts"))
      val exactTotal = li.agg(count_distinct(col("l_partkey")).as("exact_total"))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perFlag.crossJoin(broadcast(exactTotal))
        .withColumn("hll_est",
          hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
        .withColumn("hll_err_ok",
          abs(col("hll_est") - col("exact_total")).cast(DoubleType) /
            col("exact_total").cast(DoubleType) <= 0.05)
        .select(col("l_returnflag"), col("nd_parts"), col("exact_total"),
          col("hll_err_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // PII redaction (oracle-checked): the fixture has no PII, so the
    // query plants deterministic emails/IPs/phones derived from doc_id
    // (the q59/q60 device) and scrubs them — both engines construct and
    // redact the same text, so the oracle reproduces the scrub exactly.
    "q63_pii_redaction" -> ((s, dir) => {
      val planted = concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
        (col("doc_id") % 256).cast(LongType), lit(".7 or "),
        lit("555-1"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit("-4242"))
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.Redaction.emailCount(planted).cast(LongType).as("n_emails"),
        graft.ops.Redaction.ipCount(planted).cast(LongType).as("n_ips"),
        graft.ops.Redaction.phoneCount(planted).cast(LongType).as("n_phones"),
        graft.ops.Redaction.scrub(planted).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // corpus-level duplicate-line removal (oracle-checked): documents are
    // re-lined into five 8-token lines (deterministic construction both
    // engines share); any line occurring more than 3 times corpus-wide is
    // boilerplate and dropped from every doc, survivors reassembled in
    // order. The operator's scale shape is count -> broadcast the tiny
    // frequent set -> anti-join (the decontamination shape).
    "q64_line_dedup" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val lines = (0 until 5).map(i => concat_ws(" ", slice(toks, 1 + 8 * i, 8)))
      val relined = t(s, dir, "documents")
        .select(col("doc_id"), array_join(array(lines: _*), "\n").as("text"))
      Dedup.dedupLines(relined, "doc_id", "text", maxOccurrences = 3L)
        .orderBy(col("doc_id"))
    }),

    // brute-force cosine top-k (oracle-checked; query = vec_id 0).
    "q50_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      Similarity.topK(emb, "vec_id", "embedding", q, 10)
    }),

    // exact embedding near-dup pairs (oracle-checked). Deliberately bounded
    // to a deterministic subset (vec_id < 500): this query is the O(n^2)
    // oracle anchor for q52's LSH scale path — the bound keeps the
    // quadratic stage fixed-size no matter the corpus (same device as q45).
    "q51_ann_neardup_exact" -> ((s, dir) =>
      exactEmbeddingPairs(s, dir).orderBy(col("id_a"), col("id_b"))),

    // LSH-bucketed embedding near-dup under the oracle (exact-side +
    // recall-bound device, q53/q54): output = q51's bounded exact pair set
    // (vec_id < 500 — DuckDB reproduces it) + a deterministic bound on the
    // full-table LSH pipeline's recall over those pairs. Measured: 49/59
    // (0.831) at sf0.01 — bound 0.6; a hyperplane-signature / banding /
    // Hamming-prefilter regression flips the boolean. Raw LSH pair output
    // stays covered by DedupSpec + ScaleCheck.
    "q52_ann_neardup_lsh" -> ((s, dir) => {
      val exact = exactEmbeddingPairs(s, dir)
      val lsh = Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, threshold = 0.4, bits = 48, bands = 12)
        .select(col("id_a"), col("id_b")).withColumn("hit", lit(1))
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .withColumn("lsh_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) * 5L >= count(lit(1)).over(w) * 3L)
        .drop("hit")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup semantic dedup (oracle-checked): nearest-centroid cluster
    // assignment + within-cluster-only near-dup pairs (Abbas et al.
    // 2023). Deterministic block-indicator centroids make the assignment
    // engine-reproducible (DuckDB recomputes the same argmax); the
    // vec_id < 500 bound is the q51 quadratic-anchor device — the full
    // corpus path is the same plan with trained centroids.
    "q68_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticPairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 500),
        "vec_id", "embedding", Dedup.blockCentroids(8, 64), threshold = 0.4)
        .withColumn("cluster", col("cluster").cast(LongType))
        .orderBy(col("id_a"), col("id_b"))),

    // IVF ANN: index build + probe, oracle-checked via the exact side
    // (VERDICT r1 #5): output = exact brute-force top-10 (DuckDB
    // reproduces it) + a deterministic recall bound on the IVF probe
    // (seeded centroids => fixed assignment; measured 0.8 at nprobe=4/8
    // on sf0.01). An IVF regression flips the boolean -> hash mismatch.
    "q53_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val cents = Similarity.trainCentroids(emb, "embedding", k = 8, iters = 3)
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      val ivf = Similarity.ivfTopK(idx, "vec_id", "embedding", cents, q, 10, nprobe = 4)
      val exact = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      // recall bound computed INSIDE the plan (left join + global window
      // over the 10-row exact frontier) — one lazy execution, no eager
      // driver-side count re-running the scan per construction
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(ivf.select(col("vec_id")).withColumn("hit", lit(1)),
          Seq("vec_id"), "left")
        .withColumn("ivf_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) >= 7L)
        .drop("hit")
        .orderBy(desc("sim"), col("vec_id"))
    }),

    // Canonical text cleaning (oracle-checked): NFC normalization +
    // control-char strip + whitespace collapse over corpus text
    // decorated with a deterministic DECOMPOSED prefix (base letter +
    // combining acute + a BEL control + double spaces). For a/e/i/o/u
    // the combining pair must compose to one precomposed code point;
    // for consonants NFC correctly leaves the sequence decomposed —
    // both directions verified against DuckDB's utf8proc nfc_normalize.
    "q95_text_clean" -> ((s, dir) => {
      val decorated = concat(
        expr("substr('aeiouabcde', cast(doc_id % 10 + 1 as int), 1)"),
        lit("\u0301"), lit("\u0007"), lit("  "), col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.cleanText(decorated).as("clean_text"))
        .select(col("doc_id"), col("clean_text"),
          length(col("clean_text")).cast("long").as("n_chars_clean"))
        .orderBy(col("doc_id"))
    }),

    // Token-window chunking (oracle-checked): 32-token windows every 24
    // tokens (8-token overlap) — the context-window primitive for RAG
    // indexing / long-doc training prep. Pure map + posexplode, no
    // shuffle; the DuckDB oracle re-derives windows with list slicing.
    "q94_chunking" -> ((s, dir) =>
      graft.ops.Curation.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, strideTokens = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // IVF batch k-NN join (oracle-checked, the q54 device): the
    // cell-join alternative to LSH banding — queries probe their
    // nprobe nearest cells in-plan, equi-join the cell-partitioned
    // index, exact top-3 per query. Output = the exact side for the
    // bounded query set + an in-plan recall bound on the IVF candidates.
    "q93_ivf_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 150)
      val cents = Similarity.trainCentroids(emb, "embedding", k = 8, iters = 3)
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      val ivf = Similarity.ivfKnnJoin(queries, "vec_id", "embedding",
        idx, "vec_id", "embedding", cents, k = 3, nprobe = 4)
      val exact = Similarity.knnJoinExact(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // bound derived from the exact-side row count (recall >= 0.4 in
      // integer arithmetic), not a hard-coded hit total — stays calibrated
      // at any scale factor (measured 0.80 on sf0.01; 0.4 leaves slack,
      // and sampleVectors' seeded-hash draw is now deterministic per
      // dataset so centroids no longer drift between runs)
      exact.join(ivf.select(col("qid"), col("eid")).withColumn("hit", lit(1)),
          Seq("qid", "eid"), "left")
        .withColumn("ivf_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) * 5L >= count(lit(1)).over(w) * 2L)
        .drop("hit")
        .orderBy(col("qid"), col("rank"))
    }),

    // ADC-scored batch k-NN join (oracle-checked, the q93 device): the
    // IVFADC form of the batch workload — every query carries its own
    // in-plan LUT, candidates are scored from m-byte codes via the cell
    // equi-join (no raw vectors until rerank), then the per-query
    // shortlist reranks exactly. Output = exact top-3 for the bounded
    // query set + an in-plan recall bound derived from the exact-side
    // row count.
    "q97_pq_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 150)
      // one sampling scan feeds coarse quantizer + codebooks
      val sample = Similarity.sampleVectors(emb, "embedding")
      val cents = Similarity.trainCentroidsFromSample(sample, k = 8, iters = 3)
      val books = Similarity.trainPqFromSample(sample, cents, m = 8)
      // pinned: models the persisted-index lifecycle (build once, join
      // many) AND keeps the encode kernel out of the join's match loop —
      // see the pqKnnJoin scaladoc (measured 4.8 s -> encode once when
      // the index is built inline without a pin)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cents, books)
        .localCheckpoint(true)
      val raw = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      val pq = Similarity.pqKnnJoin(queries, "vec_id", "embedding",
        codes, "vec_id", raw, "vec_id", "embedding", cents, books,
        k = 3, nprobe = 4, shortlist = 20)
      val exact = Similarity.knnJoinExact(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(pq.select(col("qid"), col("eid")).withColumn("hit", lit(1)),
          Seq("qid", "eid"), "left")
        .withColumn("pq_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) * 5L >= count(lit(1)).over(w) * 2L)
        .drop("hit")
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF-PQ (oracle-checked, the q53 device): codes-only ADC scoring
    // over the product-quantized index — 8 bytes per vector instead of
    // 256. Output = exact top-10 + an in-plan recall bound: >= 7 of the
    // exact top-10 must appear in the ADC top-20 at nprobe=4, despite
    // 32x compression.
    "q91_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      // one sampling scan feeds the whole index build (coarse quantizer
      // AND codebooks) — the intended at-scale lifecycle
      val sample = Similarity.sampleVectors(emb, "embedding")
      val cents = Similarity.trainCentroidsFromSample(sample, k = 8, iters = 3)
      val books = Similarity.trainPqFromSample(sample, cents, m = 8)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cents, books)
      val adc = Similarity.pqTopK(codes, "vec_id", cents, books, q, k = 20, nprobe = 4)
      val exact = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(adc.select(col("vec_id")).withColumn("hit", lit(1)),
          Seq("vec_id"), "left")
        .withColumn("pq_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) >= 7L)
        .drop("hit")
        .orderBy(desc("sim"), col("vec_id"))
    }),

    // batch k-NN join via LSH bucketing, oracle-checked via the exact
    // side: output = exact top-3 for a bounded query set (qid < 150 —
    // fixed-size quadratic stage, same device as q45/q51) + a
    // deterministic recall bound on the LSH candidates (seeded planes;
    // measured 0.36 on sf0.01's near-uniform vectors, where LSH has no
    // similarity gap to exploit — ScaleSpec shows recall 1.0 once real
    // near-dup structure exists). Full-table LSH recall stays covered by
    // ScaleSpec; a candidate-generation regression flips the boolean.
    "q54_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 150)
      val lsh = Similarity.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3, dim = 64, bits = 48, bands = 8)
      val exact = Similarity.knnJoinExact(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 3)
      // recall bound inside the plan (see q53): left join on the 450-row
      // exact result + global window sum — lazy, single execution
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(lsh.select(col("qid"), col("eid")).withColumn("hit", lit(1)),
          Seq("qid", "eid"), "left")
        .withColumn("lsh_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) >= 90L) // 0.2 * 450
        .drop("hit")
        .orderBy(col("qid"), col("rank"))
    }),

    // REAL image decode under the correctness gate: deterministic 4x4
    // grayscale BMPs (pixel = (doc_id*31 + cell)*7 mod 256) are encoded
    // and decoded through the JDK codec; with one pixel per grid cell the
    // luminance features ARE the pixel values, so the oracle reproduces
    // them by plain arithmetic. 4-dp rounding absorbs the float cast.
    "q59_multimodal_decode" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val imgs = Multimodal.patternImages(ids, "doc_id", side = 4)
      Multimodal.extractFeatures(imgs, "id", "content", dim = 16)
        .select(col("id").as("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          round(element_at(col("features"), 1).cast(DoubleType), 4).as("f0"),
          round(element_at(col("features"), 6).cast(DoubleType), 4).as("f5"),
          round(element_at(col("features"), 16).cast(DoubleType), 4).as("f15"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio decode under the correctness gate (q59's sibling):
    // deterministic constant-amplitude 16-bit PCM WAVs are decoded through
    // the real javax.sound path; constant-within-window samples make each
    // RMS feature exactly the amplitude ((doc_id*31+w)*7 mod 256)/256, so
    // the oracle reproduces features AND meta by plain arithmetic. (The
    // codec-less stub path keeps its coverage in MultimodalSpec.)
    "q60_multimodal_features" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val wavs = Multimodal.patternAudio(ids, "doc_id", windows = 16, perWindow = 25)
      Multimodal.extractFeatures(wavs, "id", "content", dim = 16)
        .select(col("id").as("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("sample_rate"),
          col("meta.height").as("channels"),
          col("meta.n_frames").as("n_frames"),
          col("meta.size_bytes").as("size_bytes"),
          round(element_at(col("features"), 1).cast(DoubleType), 6).as("f0"),
          round(element_at(col("features"), 8).cast(DoubleType), 6).as("f7"),
          round(element_at(col("features"), 16).cast(DoubleType), 6).as("f15"))
        .orderBy(col("doc_id"))
    }),

    // REAL video container metadata (oracle-checked, the q59/q60
    // device): deterministic ISO-BMFF headers written through the box
    // grammar, parsed back by the public-spec Mp4 parser — brand, codec
    // fourcc, track dims, stsz sample count, duration. Every field
    // derives from doc_id by plain arithmetic, which is exactly what the
    // DuckDB oracle recomputes. Frame decode stays stubbed (no JDK video
    // codec); the container catalog pass is the real contract.
    "q92_video_metadata" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val vids = Multimodal.patternVideos(ids, "doc_id")
      Multimodal.videoMetadata(vids, "id", "content")
        .select(col("id").as("doc_id"), col("brand"), col("codec"),
          col("width"), col("height"), col("n_frames"),
          col("duration_ms"), col("n_tracks"))
        .orderBy(col("doc_id"))
    }),

    // BM25 top-k retrieval (oracle-checked): rank the corpus against a
    // bag of query terms — the standard sparse-retrieval primitive for
    // targeted corpus search/quality probes. Token stream is filtered to
    // the query terms BEFORE any shuffle; df/avgdl ride broadcasts.
    "q71_bm25" -> ((s, dir) =>
      graft.ops.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("customer", "vector", "spark", "query"), k = 10)),

    // BPE pair-merge statistics (oracle-checked): the counting pass of
    // tokenizer training, factored through the word vocabulary so the
    // per-character work is Heaps-law bounded, not corpus-sized.
    "q72_bpe_pairs" -> ((s, dir) =>
      graft.ops.Tokenize.topBpePairs(t(s, dir, "documents"), "text", k = 20)),

    // CCNet-style unigram-LM scoring (oracle-checked): mean token
    // negative log-likelihood per document against the corpus model —
    // the perplexity-bucketing signal; vocab pass + broadcast scoring.
    "q73_unigram_nll" -> ((s, dir) =>
      graft.ops.Retrieval.unigramNll(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Per-source data card (oracle-checked): doc counts, token volume,
    // mean/median/p90 length — exact percentiles here for oracle parity;
    // the operator's default is the mergeable approx sketch at scale.
    "q74_data_card" -> ((s, dir) =>
      graft.ops.Profile.dataCard(t(s, dir, "documents"), "source", "text",
        "n_chars", exact = true)
        .orderBy(col("source"))),

    // Bloom-pre-filtered decontamination (oracle-checked): same exact
    // report as the broadcast-join path — blooms have no false negatives
    // and false positives die in the verify join — but the corpus-side
    // probe is an O(1) bitset check ~6x smaller to ship than the gram
    // set. 6-grams, >=2 shared grams to flag.
    "q75_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      graft.ops.Decontamination.bloomOverlapReport(train, "doc_id", "text",
        bench, "text", n = 6, minShared = 2)
        .orderBy(col("doc_id"))
    }),

    // Perceptual-hash image dedup (oracle-checked): the q59 device driven
    // one stage further — deterministic BMPs go through the REAL ImageIO
    // decode, the 4x4 luminance grid is folded into a 12-bit dHash
    // (codegen'd column arithmetic), and exact-hash grouping yields dup
    // clusters (one shuffle on a long). Pattern pixel = (id*31+c)*7 mod
    // 256 repeats with id mod 256, so genuine duplicate images exist and
    // the oracle reproduces every bit by integer arithmetic.
    "q76_phash_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val imgs = Multimodal.patternImages(ids, "doc_id", side = 4)
      val hashed = Multimodal.extractFeatures(imgs, "id", "content", dim = 16)
        .select(col("id").as("doc_id"),
          Multimodal.dHash(col("features"), 4).as("phash"))
      val w = Window.partitionBy(col("phash"))
      hashed
        .withColumn("rep_id", min(col("doc_id")).over(w))
        .withColumn("is_dup", col("doc_id") =!= col("rep_id"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated bigram-LM scoring (oracle-checked): the next rung up
    // the CCNet perplexity ladder from q73 — Jelinek-Mercer bigram/unigram
    // mix, map-only bigram zip, model frames broadcast.
    "q77_bigram_nll" -> ((s, dir) =>
      graft.ops.Retrieval.bigramNll(t(s, dir, "documents"), "doc_id", "text",
        lambda = 0.8)
        .orderBy(col("doc_id"))),

    // OOV rate vs the corpus top-1000 vocabulary (oracle-checked):
    // tokenizer-fit signal; TakeOrdered vocab broadcast into the
    // membership join.
    "q78_oov_rate" -> ((s, dir) =>
      graft.ops.Retrieval.oovRate(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 1000)
        .orderBy(col("doc_id"))),

    // Smoothed TF-IDF top-3 keywords per doc (oracle-checked): per-doc
    // characteristic terms; df re-agg broadcast, per-doc top-k window.
    "q79_tfidf_keywords" -> ((s, dir) =>
      graft.ops.Retrieval.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text",
        k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // Duplicated-span report (oracle-checked): q66's positional
    // refinement — repeated 8-grams' positions merge into maximal spans
    // per doc (the ExactSubstr numbers a span-removal pass acts on).
    // Gram hashes stand in for gram strings (the q43/q55/q66 device);
    // DuckDB reproduces spans from the gram strings themselves.
    "q80_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpanReport(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))),

    // Per-source KL divergence from the corpus token distribution
    // (oracle-checked): the mixture-drift number next to q74's data card
    // and q69's share report; corpus model re-aggregated from the same
    // (source, token) counts — one text scan total.
    "q81_source_kl" -> ((s, dir) =>
      graft.ops.Profile.sourceKl(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))),

    // Duplicated-span REMOVAL (oracle-checked): the act step of q80 —
    // each doc rewritten with its corpus-repeated 8-gram spans cut out.
    // Spans collect into two long arrays per doc; the rewrite is the
    // codegen'd remove_token_ranges kernel, one map pass, no token
    // explode. DuckDB rebuilds the same text via positional anti-join +
    // ordered string_agg.
    "q82_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))),

    // CCNet head/middle/tail perplexity split (oracle-checked): q73's
    // scores bucketed against corpus quartiles — exact percentiles here
    // for oracle parity (the q74 device); the operator's 100 TB default
    // is the mergeable approx sketch.
    "q83_ppl_buckets" -> ((s, dir) =>
      graft.ops.Retrieval.perplexityBuckets(t(s, dir, "documents"),
        "doc_id", "text", exact = true)
        .orderBy(col("doc_id"))),

    // Incremental dedup (oracle-checked): a "new batch" (doc_id % 10 < 2)
    // LSH-joined against the remaining corpus as the reference — the
    // daily-increment shape; candidate volume is new x matching-bucket,
    // never ref x ref. Same q43 LSH tuning, where measured recall vs
    // exact all-pairs is 1.0, so DuckDB reproduces the output as the
    // exact cross-subset jaccard join.
    "q84_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashPairsAgainst(
        docs.filter(col("doc_id") % 10 < 2), "doc_id", "text",
        docs.filter(col("doc_id") % 10 >= 2), "doc_id", "text",
        shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
        .orderBy(col("new_id"), col("ref_id"))
    }),

    // Span-level contamination report (oracle-checked): WHERE the
    // benchmark leaks sit inside each training doc — q55's positional
    // refinement via the q80 span machinery; q55/q75's bench split.
    "q86_contamination_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontamination.contaminationSpans(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // BPE merge-table APPLICATION (oracle-checked): per-doc subword
    // token count under a fixed merge list — q72's stats turned into the
    // number a context-budget pass needs. Encode factors through the
    // word vocabulary (Heaps-law bounded) and runs the array-based
    // Sennrich apply kernel; the DuckDB oracle replays the merges with
    // an INDEPENDENT bracket-delimited string fold, so parity actually
    // verifies the algorithm (not a shared implementation quirk).
    "q87_bpe_encode" -> ((s, dir) =>
      graft.ops.Tokenize.bpeEncodedLength(t(s, dir, "documents"),
        "doc_id", "text", SparkEntry.bpeMerges)
        .orderBy(col("doc_id"))),

    // Full BPE encode to VOCAB IDS (oracle-checked): the per-doc subword
    // id sequence — the tensor a TFRecord export ships. Flattened to
    // (doc_id, seq_pos, token_id) rows for the oracle hash; the DuckDB
    // side re-derives ids via the independent bracket-fold encode.
    "q90_bpe_token_ids" -> ((s, dir) =>
      graft.ops.Tokenize.bpeTokenIds(t(s, dir, "documents"),
        "doc_id", "text", SparkEntry.bpeMerges, SparkEntry.bpeVocab)
        .select(col("doc_id"),
          posexplode(col("ids")).as(Seq("seq_pos", "token_id")))
        .select(col("doc_id"), col("seq_pos").cast("long").as("seq_pos"),
          col("token_id").cast("long").as("token_id"))
        .orderBy(col("doc_id"), col("seq_pos"))),

    // Snapshot drift report (oracle-checked): two deterministic
    // derivations of orders stand in for consecutive archiver snapshots;
    // one full-outer key join classifies insert/delete/update, unchanged
    // keys never leave the join.
    "q88_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val before = orders.filter(col("o_orderkey") % 3 =!= 0)
      val after = orders.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")))
      graft.snapshot.Diff.diff(before, after,
        Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Hard-negative mining (oracle-checked): per query vector, the top-3
    // most-similar DIFFERENT-label vectors — the contrastive-training
    // negatives. Bounded query set (vec_id < 50, the q51/q54 device);
    // the scale path is the LSH knnJoin with the label filter on
    // candidates.
    "q85_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(
        emb.filter(col("vec_id") < 50), "vec_id", "embedding", "label",
        emb, "vec_id", "embedding", "label", k = 3)
        .orderBy(col("qid"), col("rank"))
    }),

    // Hard-negative mining, LSH scale path (oracle-checked, the q54
    // device): band-bucketed candidates with the label-mismatch filter
    // applied AFTER bucketing (one label-agnostic banding serves every
    // split). Output = q85's exact side + a count-derived recall bound
    // on the LSH candidates (seeded planes; measured 0.373 on the
    // near-uniform fixture vectors at both sf0.01 and sf0.1 — bound 0.2
    // leaves slack; real near-dup structure pushes it toward 1.0, see
    // ScaleSpec).
    "q98_hard_negatives_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
      val lsh = Similarity.hardNegativesLsh(queries, "vec_id", "embedding",
        "label", emb, "vec_id", "embedding", "label", k = 3, dim = 64)
      val exact = Similarity.hardNegatives(queries, "vec_id", "embedding",
        "label", emb, "vec_id", "embedding", "label", k = 3)
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      exact.join(lsh.select(col("qid"), col("eid")).withColumn("hit", lit(1)),
          Seq("qid", "eid"), "left")
        .withColumn("lsh_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) * 5L >= count(lit(1)).over(w))
        .drop("hit")
        .orderBy(col("qid"), col("rank"))
    }),

    // Positional inverted index + exact phrase search (ops/Invert):
    // postings = one (term, doc) aggregate; adjacency verified in-plan
    // with higher-order array functions over the per-term sorted
    // position arrays (no positional self-join, no UDF). The oracle
    // recomputes the same adjacency with a DuckDB list lambda.
    "q99_phrase_search" -> ((s, dir) =>
      graft.ops.Invert.phraseSearchIndex(
        graft.ops.Invert.postings(t(s, dir, "documents"), "doc_id", "text"),
        Seq("table", "scan"))
        .orderBy(col("doc_id"))),

    // Exact all-pairs set-similarity join (ops/SetSimJoin): prefix
    // filtering under an ascending-df global order — the LOSSLESS exact
    // counterpart of the MinHash-LSH path (q43), so the oracle is the
    // full quadratic Jaccard in DuckDB with no recall-bound device.
    // 5-word shingle sets, threshold 0.5.
    "q100_jaccard_join" -> ((s, dir) =>
      graft.ops.SetSimJoin.jaccardJoin(
        graft.ops.SetSimJoin.shingleSets(t(s, dir, "documents"), "doc_id", "text", 5),
        "doc_id", "els", 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Proximity search (ops/Invert): all terms inside a 4-token window,
    // any order — window starts probed at term occurrences only
    // (lossless: a qualifying window shrinks to start at its minimum
    // selected position). Oracle: the same probe as nested DuckDB list
    // lambdas.
    "q101_proximity_search" -> ((s, dir) =>
      graft.ops.Invert.proximitySearch(
        graft.ops.Invert.postings(t(s, dir, "documents"), "doc_id", "text"),
        Seq("hash", "join"), window = 4)
        .orderBy(col("doc_id"))),

    // Misra-Gries heavy hitters (functions/SketchAggregates): the
    // q46/q65 sketch device — output the DuckDB-reproducible exact
    // top-8 token counts plus a boolean asserting the sketch's
    // DETERMINISTIC guarantee (true - n/(k+1) <= est <= true, and
    // eviction-survival for anything above the slack). k=12 is far
    // below the corpus vocabulary, so eviction and the cross-partition
    // mergeable-summaries reduction both run for real.
    "q102_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      val sk = toks.agg(graft.functions.mg_sketch(col("w"), 12).as("sk"))
        .select(col("sk.n").as("n"), col("sk.counts").as("counts"))
      val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(8)
      top.crossJoin(broadcast(sk))
        .withColumn("est", element_at(col("counts"), col("w")))
        .withColumn("mg_bound_ok",
          (coalesce(col("est"), lit(0L)) <= col("cnt")) &&
          (coalesce(col("est"), col("cnt")) >=
            col("cnt") - col("n").cast("double") / 13.0) &&
          (col("cnt").cast("double") <= col("n").cast("double") / 13.0 ||
            col("est").isNotNull))
        .select(col("w"), col("cnt"), col("mg_bound_ok"))
        .orderBy(col("cnt").desc, col("w"))
    }),

    // Index-backed BM25 (ops/Invert): q71's exact scoring, corpus scan
    // replaced by the pruned postings read + build-time doc-length
    // table (InvertSpec pins equality with Retrieval.bm25TopK).
    "q103_bm25_index" -> ((s, dir) => {
      val idx = graft.ops.Invert.postings(t(s, dir, "documents"), "doc_id", "text")
      graft.ops.Invert.bm25FromIndex(idx, graft.ops.Invert.docLengths(idx),
        Seq("window", "stream", "batch"), k = 10)
    }),

    // Weighted sampling without replacement (ops/Sampling): the
    // Efraimidis-Spirakis exponential-key scheme over the stable md5
    // uniform — a pure function of (id, weight), so DuckDB replays the
    // exact selection. Keys rounded to 9 dp in BOTH engines before the
    // order/limit so a last-ulp pow() difference can't flip the
    // frontier (margins checked at both fixture SFs).
    "q104_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
        t(s, dir, "documents").filter(col("n_chars") > 0),
        "doc_id", "n_chars", k = 20)
        .select(col("doc_id"), col("n_chars"), col("sample_key"))
        .orderBy(col("sample_key").desc, col("doc_id"))),

    // Range join (ops/RangeJoin): attribution windows — every purchase
    // opens a 15-minute window; count the other event types landing
    // inside any window. Bin-keyed equi-join decomposition (binWidth =
    // the window length, so each interval covers <= 2 bins); the oracle
    // replays the same inner join as a DuckDB BETWEEN theta-join. All
    // arithmetic in exact integer microseconds on both engines.
    "q105_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val win = 900000000L // 15 min in microseconds
      val iv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("iv_id"),
          unix_micros(col("ts")).as("win_s"),
          (unix_micros(col("ts")) + lit(win)).as("win_e"))
      val pts = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_type"), unix_micros(col("ts")).as("p_ts"))
      graft.ops.RangeJoin.pointInInterval(pts, "p_ts", iv, "win_s", "win_e", win)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_matches"),
          countDistinct(col("iv_id")).as("n_windows"))
        .orderBy(col("event_type"))
    }),

    // Count-min sketch (functions/SketchAggregates): the point-frequency
    // complement of q102's Misra-Gries. Same sketch-oracle device:
    // DuckDB-reproducible exact top-8 token counts + booleans asserting
    // the CMS guarantees — est >= true (structural: counters only
    // increment) and est <= true + 2n/width (the eps=2/width bound; min
    // over depth=4 rows, deterministic for this fixed corpus + seeds).
    // The probed items span head AND tail (top-4 plus four singletons)
    // so the overcount side is exercised where collisions actually bite.
    "q106_cms_counts" -> ((s, dir) => {
      val depth = 4; val width = 8192
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      val sk = toks.agg(graft.functions.cms_sketch(col("w"), depth, width).as("sk"))
        .select(col("sk.n").as("n"), col("sk.table").as("tbl"))
      val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val probes = counts.orderBy(col("cnt").desc, col("w")).limit(4)
        .unionAll(counts.orderBy(col("cnt").asc, col("w")).limit(4))
      probes.crossJoin(broadcast(sk))
        .withColumn("est",
          graft.functions.cms_estimate(col("tbl"), col("w"), depth, width))
        .withColumn("cms_bound_ok",
          col("est") >= col("cnt") &&
          col("est").cast("double") <=
            col("cnt").cast("double") + lit(2.0) * col("n") / width)
        .select(col("w"), col("cnt"), col("cms_bound_ok"))
        .orderBy(col("cnt").desc, col("w"))
    }),

    // SQ8 ANN (ops/Similarity): the 4x-compression rung between raw
    // brute force (q50) and IVF-PQ (q91). Per-dim trained ranges off the
    // shared sampling scan, byte-code ADC shortlist (dim bytes/row),
    // exact rerank on the shortlist only. SQ8's half-step error bound is
    // tight enough that a 3x-k shortlist recovers the exact top-10 — so
    // the OUTPUT equals DuckDB's exact top-10, no recall device needed
    // (verified at both fixture SFs; SimilaritySpec pins the bound).
    "q107_ann_sq8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val sample = Similarity.sampleVectors(emb, "embedding")
      val (vmin, vdiff) = Similarity.trainSqFromSample(sample)
      val codes = Similarity.sqEncode(emb, "vec_id", "embedding", vmin, vdiff)
      Similarity.sqTopKRerank(codes, "vec_id", vmin, vdiff, q,
        emb, "vec_id", "embedding", k = 10, shortlist = 30)
    }),

    // Incremental index maintenance (Invert.mergePostings): every 3rd
    // document is "updated" (text gains a marker suffix) and re-indexed
    // as a delta batch; the merge anti-joins the stale base rows away
    // and unions the fresh postings — row-identical to a full rebuild
    // over the updated corpus, which is exactly what the oracle
    // computes from scratch in DuckDB. Probes cover an added term, two
    // steady terms, and (via tf_total) replaced-row position counts.
    "q108_index_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = graft.ops.Invert.postings(docs, "doc_id", "text")
      val delta = graft.ops.Invert.postings(
        docs.filter(col("doc_id") % 3 === 0)
          .withColumn("text",
            concat(col("text"), lit(" refreshed corpus entry"))),
        "doc_id", "text")
      graft.ops.Invert.mergePostings(base, delta)
        .filter(col("term").isin("refreshed", "window", "stream", "batch"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
        .orderBy(col("term"))
    }),

    // Interval-overlap range join (q105's sibling variant): purchase
    // windows against error windows, every overlapping pair counted
    // exactly once (pairs emit only at the max-start bin — the
    // dedup-free device RangeJoinSpec proves against the naive theta
    // join). Touching endpoints overlap, as in the oracle's predicate.
    "q109_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val win = 900000000L
      def windows(kind: String, p: String) = ev
        .filter(col("event_type") === kind)
        .select(col("event_id").as(s"${p}_id"),
          unix_micros(col("ts")).as(s"${p}_s"),
          (unix_micros(col("ts")) + lit(win)).as(s"${p}_e"))
      graft.ops.RangeJoin.intervalOverlap(
          windows("purchase", "a"), "a_s", "a_e",
          windows("error", "b"), "b_s", "b_e", win)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("a_id")).as("n_purchase"),
          countDistinct(col("b_id")).as("n_error"))
    }),

    // C4 cleaning rules (Raffel et al. 2020 §2.2) — the line-oriented
    // complement of q57's Gopher gate. The fixture corpus has no
    // newlines or punctuation, so the q95 device applies: decorate the
    // text IDENTICALLY in both engines (8-token lines, '.' suffix when
    // (doc_id + line) % 3 != 0, a brace page every 17th doc, a lorem
    // page every 23rd), then apply the rules. Both engines compute the
    // same integer line/sentence counts and flags.
    "q110_c4_rules" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val nLines = ceil(size(toks).cast("double") / 8.0).cast("int")
      val decorated = when(size(toks) === 0, lit("")).otherwise(
        array_join(transform(sequence(lit(0), nLines - 1), i =>
          concat(array_join(slice(toks, i * 8 + 1, lit(8)), " "),
            when(pmod(col("doc_id") + i, lit(3)) =!= 0, lit("."))
              .otherwise(lit("")))), "\n"))
      val withBrace = when(col("doc_id") % 17 === 0,
        concat(decorated, lit("\n{ code }"))).otherwise(decorated)
      val page = when(col("doc_id") % 23 === 0,
        concat(lit("lorem ipsum\n"), withBrace)).otherwise(withBrace)
      TextAnalysis.c4Stats(
        t(s, dir, "documents").withColumn("text", page),
        "doc_id", "text")
        .drop("kept_text")
        .orderBy(col("doc_id"))
    }),

    // Hybrid sparse+dense retrieval (Retrieval.hybridSearch): BM25
    // shortlists 50 candidates (q71's exact scoring), candidates join
    // their embeddings, final order blends max-normalized BM25 with
    // cosine at alpha=0.5. Every arithmetic step rounds to 6 dp from
    // identically-rounded inputs, so the blended order is
    // engine-reproducible and the oracle replays it exactly.
    "q111_hybrid_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      graft.ops.Retrieval.hybridSearch(
        t(s, dir, "documents"), "doc_id", "text",
        emb, "vec_id", "embedding",
        Seq("customer", "vector", "spark", "query"), qv,
        k = 10, alpha = 0.5, candidates = 50)
    }),

    // KLL quantile sketch (functions/KllSketch.scala): the quantile
    // member of the sketch family (HLL distinct / MG heavy hitters /
    // CMS frequency / KLL rank) — "p99 doc length over 100 TB" without
    // a global sort. Oracle device: output the DuckDB-reproducible
    // EXACT percentiles plus an in-plan rank-error gate on the sketch
    // estimates (|rank(est) - q*n| <= 5% n; KLL at k=200 guarantees
    // ~1.65%, so merge-order drift can't flip it, a regression does).
    // The probe frame is constant-size (7 quantiles), so the broadcast
    // NLJ rank pass multiplies the scan by #probes only — scale-safe.
    "q112_kll_quantiles" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val base = t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast("double").as("x"))
      // exact side via ops/Quantiles (distributed prefix-sum ranks —
      // the built-in `percentile` agg buffers every value into one
      // merger and was 2.3 s of this query's 3 s alone); the 7 probes
      // + exact answers collapse into a single 7-row broadcast, so the
      // query is the sketch pass, the ranked exact pass, and one
      // rank-gate scan — two broadcast joins total, down from four.
      // dispatch pinned off (q139's rule): this gate exercises the rank
      // kernel at every SF; at test scale the auto-dispatch would
      // (correctly) answer with the built-in
      val exact = graft.ops.Quantiles.exact(base, "x", qs,
        builtinMaxRows = 0L)
      val sk = base.agg(graft.functions.kll_sketch(col("x"), 200).as("sk"))
        .select(col("sk.n").as("n"), col("sk.items").as("items"),
          col("sk.weights").as("weights"))
      val est = exact.crossJoin(broadcast(sk))
        .select(col("q"),
          graft.functions.kll_quantile(
            col("items"), col("weights"), col("q")).as("est"),
          col("exact_q").as("ex"), col("n"))
      val gates = base.crossJoin(broadcast(est))
        .groupBy(col("q"), col("est"), col("ex"), col("n"))
        .agg(sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("rk"))
      gates
        .select(col("q"), round(col("ex"), 4).as("exact_q"),
          (abs(col("rk").cast("double") - col("q") * col("n")) <=
            lit(0.05) * col("n")).as("kll_ok"))
        .orderBy(col("q"))
    }),

    // Retrieval-evaluation metrics (ops/Eval.scala): recall@10, MRR@10,
    // nDCG@10 per query with "same label" relevance — the measurement
    // side of the ANN/retrieval operators, windows + one grouped agg.
    // Candidates are the bounded vec_id < 400 subset (the q51-style
    // fixed-size quadratic anchor); scores round to 6 dp BEFORE ranking
    // so both engines rank identically under the (score, cid) tie-break.
    "q113_ranking_metrics" -> ((s, dir) =>
      graft.ops.Eval.labelRankingEval(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label",
        col("vec_id") < 20, col("vec_id") < 400, k = 10)
        .select(col("qid"), col("n_rel"),
          round(col("recall_at_k"), 6).as("recall_at_10"),
          round(col("mrr_at_k"), 6).as("mrr_at_10"),
          round(col("ndcg_at_k"), 6).as("ndcg_at_10"))
        .orderBy(col("qid"))),

    // WordPiece token ids (ops/Tokenize.wordpieceTokenIds): greedy
    // longest-match-first — the BERT subword family, completing the
    // tokenizer trio next to BPE merge replay (q90) and unigram-LM
    // Viterbi (spec-covered). The DuckDB oracle replays the greedy scan
    // INDEPENDENTLY: per-position longest match via a window over the
    // vocab join, then a recursive-CTE walk — so parity verifies the
    // algorithm, not a shared implementation.
    "q114_wordpiece_ids" -> ((s, dir) =>
      graft.ops.Tokenize.wordpieceTokenIds(t(s, dir, "documents"),
        "doc_id", "text", SparkEntry.wordpieceVocab, unkId = 0)
        .select(col("doc_id"),
          posexplode(col("ids")).as(Seq("seq_pos", "token_id")))
        .select(col("doc_id"), col("seq_pos").cast("long").as("seq_pos"),
          col("token_id").cast("long").as("token_id"))
        .orderBy(col("doc_id"), col("seq_pos")))
  ,

    // PageRank (ops/Graph.scala): fixed-iteration rank over the
    // customer -> supplier purchase graph (suppliers namespaced +1e6)
    // — the link-graph source-quality prior, and the repo's iterative
    // graph operator next to CC's pointer jumping. Mass-conserving
    // dangling redistribution keeps sum(pr) == 1, so a fixed 5-round
    // unroll is engine-comparable; the oracle unrolls the SAME rounds
    // as chained SQL CTEs. All-double arithmetic on both sides
    // (explicit ::DOUBLE in the oracle), final round to 6 dp.
    "q115_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
        .distinct()
      graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // Z-order / Morton code (functions/ZOrderExpressions + ops/Layout):
    // the data-LAYOUT operator behind lakehouse OPTIMIZE ZORDER BY —
    // multi-dimensional file clustering so min/max pruning works on
    // every dimension (SCALECHECK §5n measures the file-skip win; this
    // query pins the CODE itself). Buckets use pure integer arithmetic
    // (`div`) so both engines compute identical codes; the oracle
    // re-derives the interleave with explicit bit shifts.
    "q116_zorder" -> ((s, dir) => {
      val st = t(s, dir, "lineitem")
        .agg(min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
          min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .crossJoin(broadcast(st))
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.z_value(Seq(
            expr("((l_partkey - pmin) * 255) div (pmax - pmin)"),
            expr("((l_suppkey - smin) * 255) div (smax - smin)")), 8)
            .as("zval"))
        .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
        .limit(50)
    }),

    // Language-ID / learned quality classifier (ops/LangId.scala):
    // hashed char-3-gram multinomial Naive Bayes, trained closed-form
    // (pure aggregation + Laplace smoothing, no SGD) and scored as a
    // broadcast join + one grouped sum — the fastText-class gate that
    // precedes every heuristic filter in production curation stacks.
    // The n-gram hash is a transparent poly-31 over code points, so
    // the oracle re-derives model AND scores from unicode(substr())
    // arithmetic; the confusion-matrix output carries no floats, so
    // engine parity rests only on argmax stability.
    "q117_langid_nb" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ops.LangId.train(docs, "lang", "text",
        n = 3, numBuckets = 4096)
      graft.ops.LangId.confusion(docs, "doc_id", "lang", "text", model)
    }),

    // Unigram-LM (SentencePiece) TRAINER (ops/Tokenize.trainUnigramVocab)
    // — the missing half of the unigram lifecycle next to the Viterbi
    // encoder (q114-family). The driver face restricts the corpus to
    // ≤4-code-point words and 2-char pieces with ONE EM iteration, so the
    // forward–backward lattice has at most 5 positions and the oracle
    // unrolls it to closed-form alpha/beta columns (prob domain) — the
    // same bounded-unroll trick as q115's chained pagerank CTEs. The
    // Spark side runs the REAL trainer (generic log-domain DP kernel,
    // distributed E-step); scores round to 6 dp, ordered by piece.
    "q118_unigram_train" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(graft.ops.TextAnalysis.tokens(col("text")))
          .as("text"))
        .filter(length(col("text")) <= 4)
      // seedSize uncapped: the oracle enumerates EVERY <=2-char piece,
      // so the Spark side must too (the alphabet bounds the seed at a
      // few hundred pieces regardless of scale factor)
      val tr = graft.ops.Tokenize.trainUnigramVocab(words, "text",
        vocabSize = 0, maxPieceLen = 2, seedSize = Int.MaxValue,
        emIters = 1)
      import s.implicits._
      tr.vocab.toDF("piece", "score")
        .select(col("piece"), round(col("score"), 6).as("score"))
        .orderBy(col("piece"))
    }),

    // Z-order ROUND-TRIP (ops/Layout.writeZOrdered + read-back): q116
    // pins the Morton CODE; this query exercises the layout END TO END —
    // rewrite lineitem clustered by (l_partkey, l_suppkey), then answer a
    // 2-dim box query from the z-ordered copy. The result is layout-
    // independent (the oracle reads the original table), so correctness
    // proves the rewrite is lossless; PlanShapeSpec pins the pruned scan
    // (both range predicates pushed, files read < files written).
    "q119_zorder_read" -> ((s, dir) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_zorder_" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
        .getAbsolutePath
      graft.ops.Layout.writeZOrdered(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity")),
        Seq("l_partkey", "l_suppkey"), bits = 8, path, numFiles = 16)
      s.read.parquet(path)
        .filter(col("l_partkey").between(0, 60) &&
          col("l_suppkey").between(0, 3))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"))
    }),

    // WebDataset tar export MANIFEST (ops/WebDataset.writeShards): the
    // shard bytes are not SQL-checkable, but the manifest IS — ustar
    // framing is deterministic arithmetic (512-byte header + data padded
    // to 512 per member, 1024-byte trailer per shard), and shard
    // assignment is positional. The oracle re-derives every shard's
    // sample count and exact byte size from octet_length alone, so a
    // manifest match certifies the export arithmetic end to end. Input
    // sorted and coalesced to one partition so assignment is
    // engine-independent.
    "q120_webdataset_manifest" -> ((s, dir) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_wds_" + dir.replaceAll("[^a-zA-Z0-9]", "_")).getAbsolutePath
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).coalesce(1)
      graft.ops.WebDataset.writeShards(docs, "doc_id",
          Seq("txt" -> "text"), path, samplesPerShard = 64)
        .select(regexp_extract(col("path"), "part-[^/]*$", 0).as("shard"),
          col("n_samples"), col("n_bytes"))
        .orderBy(col("shard"))
    }),

    // Length-bucketed packing (Curation.packBucketed): the whole-doc
    // batching policy next to q61's concat-then-chunk — power-of-two
    // buckets, budget div bucket docs per pack, pure integer arithmetic,
    // so the oracle recomputes the exact assignment.
    "q122_bucketed_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(graft.ops.TextAnalysis.tokens(col("text")))
            .cast("long").as("n_tokens"))
      graft.ops.Curation.packBucketed(docs, "doc_id", "n_tokens",
          budget = 512L, minBucket = 16L)
        .select(col("doc_id"), col("n_tokens"), col("bucket"),
          col("pack_seq"), col("truncated"))
        .orderBy(col("doc_id"))
    }),

    // TFRecord export MANIFEST (ops/TfRecords.writeShards): same device
    // as q120 — the published framing is len+16 bytes per record, so the
    // oracle recomputes each shard's byte size from octet_length.
    "q121_tfrecord_manifest" -> ((s, dir) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_tfr_" + dir.replaceAll("[^a-zA-Z0-9]", "_")).getAbsolutePath
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .orderBy(col("doc_id")).coalesce(1)
      graft.ops.TfRecords.writeShards(docs, "payload", path,
          recordsPerShard = 64)
        .select(regexp_extract(col("path"), "part-[^/]*$", 0).as("shard"),
          col("n_records"), col("n_bytes"))
        .orderBy(col("shard"))
    }),

    // fastText-style LEARNED quality classifier (ops/Classify.scala):
    // logistic regression over hashed bag-of-words features, trained by
    // full-batch gradient descent — the SGD-family counterpart of q117's
    // closed-form NB. The word hash is the transparent per-step poly-31
    // (word_bucket), weights round to 6 dp each update, so the oracle
    // replays the ENTIRE training run (3 iterations from w=0, lr=2) as
    // chained CTEs and must land on the same model, scores, and
    // predictions. label = (lang = 'en').
    "q123_logreg_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ops.Classify.trainLogReg(docs, "doc_id",
        col("lang") === "en", "text", numBuckets = 64, iters = 3,
        learningRate = 2.0)
      graft.ops.Classify.classify(docs, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),

    // LEAKAGE-SAFE train/val/test split (Sampling.clusterSafeSplit):
    // q56's md5 split keyed by the near-dup CLUSTER label (q62's
    // connected components over MinHash-LSH pairs), so near-identical
    // docs always land on the same side of the train/eval boundary. The
    // oracle recomputes clusters via the recursive-CTE device and
    // replays the split rule on the group key.
    "q124_cluster_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingle = 3, numPerm = 128, bands = 32, threshold = 0.5)
      graft.ops.Sampling.clusterSafeSplit(docs.select(col("doc_id")),
          "doc_id", pairs, "id_a", "id_b",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("group_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // WARC ROUND-TRIP (sources/Warc): documents → ISO 28500 record
    // shards → streamed parse back → per-language payload accounting.
    // The oracle recomputes the same aggregate straight off the parquet
    // table, so a match proves record ids, meta headers, and every
    // payload byte survived the crawl-format round trip. Write side is
    // one mapPartitions pass; read side is one task per shard with a
    // constant-memory parser — the Common Crawl ingestion shape.
    "q125_warc_roundtrip" -> ((s, dir) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_warc_" + dir.replaceAll("[^a-zA-Z0-9]", "_")).getAbsolutePath
      // clean slate: a previous run with different sharding must not
      // leave stray shards behind for the glob to pick up
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          col("lang"))
      graft.sources.Warc.writeShards(docs, "doc_id", "payload", path,
        recordsPerShard = 256, metaCols = Seq("lang"))
      graft.sources.Warc.read(s, s"$path/*.warc")
        .groupBy(col("headers")("x-graft-lang").as("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(octet_length(col("payload"))).as("payload_bytes"),
          sum(octet_length(col("record_id"))).as("id_bytes"))
        .orderBy(col("lang"))
    }),

    // CHAR-ENTROPY quality signal (functions.CharEntropy): Shannon bits
    // over each doc's code-point distribution — the gibberish /
    // repeated-char-spam filter axis of the published quality batteries.
    // One codegen'd pass inside the scan span; the oracle re-derives the
    // distribution by per-char group-by arithmetic.
    "q126_char_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.functions.char_entropy(col("text")), 4)
            .as("entropy_bits"))
        .orderBy(col("doc_id"))),

    // COMPRESSION-RATIO quality signal (functions.DeflateSize):
    // deflate_len / raw_len per doc, aggregated per source — template
    // spam crushes toward 0, gibberish toward 1. No external engine
    // exposes deflate, so the hash-sensitive columns are the ones DuckDB
    // CAN recompute (docs, octet sums) plus two in-plan proof booleans
    // (q65's bounded-error device): roundtrip_ok asserts
    // inflate(deflate(text)) == text byte-exact for EVERY doc, and
    // ratio_band_ok asserts each gated per-doc ratio lands in
    // (0, 1.2] (the implemented band below; >= 64-octet docs only) —
    // both uniformly true, oracle side literal TRUE, so any codec bug
    // flips a row and fails the hash compare.
    "q127_compression_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          octet_length(col("text")).as("octs"),
          (graft.functions.deflate_size(col("text")).cast("double") /
            octet_length(col("text"))).as("ratio"),
          graft.functions.deflate_roundtrip_ok(col("text")).as("rt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("octs").cast("long")).as("octets"),
          // coalesce: an all-null-text source must read TRUE (vacuous),
          // not NULL, to keep the oracle's literal-TRUE contract honest
          coalesce(bool_and(col("rt")), lit(true)).as("roundtrip_ok"),
          // per-doc band, gated to docs >= 64 octets: deflate's fixed
          // framing overhead can push a tiny doc's ratio past 1 without
          // any codec bug, and ratio is NULL at octets = 0 — both are
          // excluded rather than allowed to poison the boolean
          coalesce(bool_and(when(col("octs") >= 64,
            col("ratio") > lit(0.0) && col("ratio") <= lit(1.2))),
            lit(true)).as("ratio_band_ok"))
        .orderBy(col("source"))),

    // CROSS-CORPUS VOCABULARY OVERLAP (functions.ThetaSketch): per-lang
    // distinct-token KMV/theta sketches, then |vocab_lang ∩ vocab_en|
    // estimated from sketch INTERSECTION — the set operation HLL cannot
    // do, and the reason to carry a second distinct sketch. q65's
    // bounded-error device: exact values are the oracle columns, the
    // sketch estimate feeds an in-plan error-bound boolean. At 100 TB
    // the exact side is one distinct aggregate; the sketches are k longs
    // per group however large the corpus.
    "q128_vocab_overlap" -> ((s, dir) => {
      // word BIGRAMS, not unigrams: the corpus langs share one word
      // list, so unigram vocabularies are identical — bigram phrase
      // inventories differ per lang and give the overlap real structure
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.ops.TextAnalysis.wordShingles(
            graft.ops.TextAnalysis.tokens(col("text")), 2)).as("tok"))
      val dt = toks.distinct()
      val sks = dt.groupBy(col("lang"))
        .agg(graft.functions.theta_sketch(col("tok"), 4096).as("sk"),
          count_distinct(col("tok")).as("nd_tokens"))
      val en = sks.filter(col("lang") === "en")
        .select(col("sk").as("sk_en"))
      val exact = dt.join(
          dt.filter(col("lang") === "en").select(col("tok")).distinct(),
          "tok")
        .groupBy(col("lang")).agg(count(lit(1)).as("exact_inter"))
      sks.join(exact, "lang").crossJoin(broadcast(en))
        .withColumn("inter_est",
          graft.functions.theta_intersect_estimate(col("sk"), col("sk_en")))
        .withColumn("inter_ok",
          abs(col("inter_est") - col("exact_inter")) /
            col("exact_inter").cast("double") <= 0.15)
        .select(col("lang"), col("nd_tokens"), col("exact_inter"),
          col("inter_ok"))
        .orderBy(col("lang"))
    }),

    // WEB PAYLOAD EXTRACTION (ops/Web): HTTP response split + HTML
    // boilerplate strip — the crawl-archive → text-corpus step. q63's
    // planted device: both engines build the identical HTTP+HTML
    // wrapper around each doc in-plan; Spark parses it back with the
    // composed built-in chain (status line, case-insensitive header,
    // body split, script/style/comment/tag strip, entity decode), and
    // the oracle states the analytically-known answer. Everything stays
    // in whole-stage codegen — no UDF anywhere in the extraction.
    "q129_http_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val payload = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style>" +
          "<script>var a = 1 < 2;</script></head><body><h1>"),
        col("lang"), lit("</h1><p>"), col("text"),
        lit(" &amp; tail</p></body></html>"))
      docs.select(col("doc_id"),
          graft.ops.Web.httpStatus(payload).as("status"),
          graft.ops.Web.httpHeader(payload, "content-type")
            .as("content_type"),
          graft.ops.Web.stripHtml(graft.ops.Web.httpBody(payload))
            .as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // URL CANONICALIZATION (ops/Web): host + registrable domain (eTLD+1
    // under the multi-label-suffix set) + the normalized dedup key
    // (lowercased, default port and fragment dropped, tracking params
    // stripped, params sorted). Planted-URL device with the analytic
    // oracle; all higher-order array functions, no UDF, map-only plan.
    "q130_url_normalize" -> ((s, dir) => {
      val url = concat(
        lit("HTTPS://WWW.Site"), (col("doc_id") % 40).cast("string"),
        lit(".CO.UK:443/docs/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&ref="), col("lang"),
        lit("&b=2&a=1&fbclid=zz#top"))
      t(s, dir, "documents").select(col("doc_id"),
          graft.ops.Web.urlHost(url).as("host"),
          graft.ops.Web.registrableDomain(graft.ops.Web.urlHost(url))
            .as("domain"),
          graft.ops.Web.urlNormalize(url).as("normalized"))
        .orderBy(col("doc_id"))
    }),

    // EDIT-SIMILARITY near-dup verify (Dedup.editSimilarityVerify):
    // normalized Levenshtein over candidate pairs — the character-exact
    // verify stage behind MinHash/SimHash banding. q51's bounded
    // quadratic anchor: the oracle-checkable candidate set is ALL pairs
    // of a fixed 150-doc subset (broadcast non-equi join — bounded by
    // construction); the scale path feeds LSH candidates instead.
    "q131_edit_similarity" -> ((s, dir) => {
      val sub = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val pairs = sub.select(col("doc_id").as("id_a"))
        .join(broadcast(sub.select(col("doc_id").as("id_b"))),
          col("id_a") < col("id_b"))
      graft.ops.Dedup.editSimilarityVerify(pairs, sub, "doc_id", "text",
          threshold = 0.39)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // DETERMINISTIC TRAINING ORDER (Sampling.trainingOrder): the 100 TB
    // form of "shuffle before training" — a global sort on the seeded
    // md5 score (one range exchange, no RNG state, reproducible across
    // engines/retries/cluster sizes; new seed = new permutation). The
    // oracle replays the same md5-prefix sort.
    "q132_training_order" -> ((s, dir) =>
      graft.ops.Sampling.trainingOrder(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = 7L)
        .orderBy(col("doc_id"))),

    // MIXTURE MATERIALIZATION (Sampling.applyMixture): the apply side
    // of q69's temperature mixture — emit each doc floor(epochs) times
    // plus a reproducible hash-chosen extra for the fractional epoch.
    // Epoch targets here are deterministic arithmetic on the source id
    // so the oracle can replay the whole expansion.
    "q133_apply_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val epochs = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .select(col("source").as("dom"),
          (lit(0.5) + substring(col("source"), 4, 10).cast("int") % 4
            * lit(0.75)).as("epochs"))
      graft.ops.Sampling.applyMixture(docs, "doc_id", "source",
          epochs, "dom", "epochs", seed = 0L)
        .orderBy(col("doc_id"), col("copy"))
    }),

    // CONTAINMENT JOIN (SetSimJoin.containmentJoin): ordered pairs with
    // |A∩B|/|A| >= t over 4-gram shingles — the asymmetric
    // quote/extract-detection question q100's symmetric Jaccard blurs.
    // Lossless prefix filter on the A side, postings on the B side;
    // oracle = the full quadratic containment replayed in DuckDB.
    "q134_containment_join" -> ((s, dir) =>
      graft.ops.SetSimJoin.containmentJoin(
        graft.ops.SetSimJoin.shingleSets(
          t(s, dir, "documents"), "doc_id", "text", 4),
        "doc_id", "els", 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // BLOCKLIST MATCHING (functions.KeywordMatches): per-keyword
    // non-overlapping hit counts in ONE Aho-Corasick scan pass whatever
    // the list size (the C4-class badwords filter). Planted device:
    // deterministic phrase tails by doc_id; the oracle recomputes every
    // count with replace-arithmetic — the exact semantics the kernel
    // implements.
    "q135_blocklist" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" buy now buy now"))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            lit(" totally free free offer"))
          .otherwise(lit(" clean tail")))
      val m = graft.functions.keyword_matches(planted,
        Seq("buy now", "free", "offer"))
      t(s, dir, "documents").select(col("doc_id"),
          element_at(m, 1).as("n_buy_now"),
          element_at(m, 2).as("n_free"),
          element_at(m, 3).as("n_offer"))
        .withColumn("flagged",
          col("n_buy_now") + col("n_free") + col("n_offer") > 0)
        .orderBy(col("doc_id"))
    }),

    // FRAME SAMPLING off the parsed sample table (Multimodal.
    // frameSampleTable): every 6th stsz entry of each synthetic video —
    // the byte ranges a fetcher pulls, decided by real ISO-BMFF
    // arithmetic, no codec. q92's device: pattern videos are seeded
    // arithmetic, so the oracle recomputes frame counts AND every
    // sampled size analytically.
    "q136_frame_sample" -> ((s, dir) => {
      val vids = Multimodal.patternVideos(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.frameSampleTable(vids, "id", "content", everyK = 6)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("frame_bytes")).as("sampled_bytes"),
          max(col("frame_idx")).as("last_idx"))
        .orderBy(col("doc_id"))
    }),

    // COMPACTION (Layout.compact): fragment lineitem into 64 small
    // files, rewrite size-targeted, and prove the data survived with
    // q119's layout-independent-aggregate device (byte sizes vary with
    // the compression environment, so only data integrity and the
    // fewer-files invariant are oracled). The operator itself hard-
    // requires row preservation in-plan.
    "q137_compaction" -> ((s, dir) => {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_compact_" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
        .getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartition(64)
        .write.parquet(s"$base/frag")
      val report = graft.ops.Layout.compact(s, s"$base/frag",
        s"$base/compacted", targetBytes = 64L << 20)
      val back = s.read.parquet(s"$base/compacted")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"))
      back.crossJoin(broadcast(report))
        .withColumn("compacted",
          col("files_out") <= col("files_in") && col("rows_out") === col("rows_in"))
        .select(col("n_rows"), col("sum_qty"), col("min_orderkey"),
          col("max_orderkey"), col("compacted"))
    }),

    // PUBLIC-SUFFIX-LIST registrable domains (functions
    // .RegistrableDomainPsl): eTLD+1 under the published
    // public_suffix_list.dat grammar — wildcard (*.ck) and exception
    // (!www.ck) rules, the cases a flat suffix set cannot express.
    // Hosts are derived from doc_id across six shapes chosen to hit
    // every rule class; the oracle rebuilds the same hosts and states
    // the per-shape expected eTLD+1 (q92's device: the oracle replays
    // the DECISION independently, not the algorithm). At 100 TB the
    // kernel is O(labels) hash probes per host inside the scan's
    // codegen span — the rule table parses once per executor.
    "q138_psl_domains" -> ((s, dir) => {
      val psl = "// test rules\ncom\nuk\nco.uk\nck\n*.ck\n!www.ck\njp\n"
      val k = col("doc_id").cast("string")
      val host = when(pmod(col("doc_id"), lit(6)) === 0,
          concat(lit("a"), k, lit(".b"), k, lit(".test.ck")))
        .when(pmod(col("doc_id"), lit(6)) === 1,
          concat(lit("x"), k, lit(".www.ck")))
        .when(pmod(col("doc_id"), lit(6)) === 2,
          concat(lit("sub"), k, lit(".shop"), k, lit(".example.co.uk")))
        .when(pmod(col("doc_id"), lit(6)) === 3,
          concat(lit("www.site"), k, lit(".com")))
        .when(pmod(col("doc_id"), lit(6)) === 4,
          concat(lit("deep.sub.page"), k, lit(".xyz")))
        .otherwise(concat(lit("host"), k, lit(".jp")))
      t(s, dir, "documents")
        .select(col("doc_id"), host.as("host"))
        .withColumn("rdomain",
          graft.functions.registrable_domain_psl(col("host"), psl))
        .orderBy(col("doc_id"))
    }),

    // PER-GROUP EXACT QUANTILES (ops/Quantiles.exactByKey): p25/p50/p90
    // doc-length per source — the data-card percentile sheet, computed
    // with the distributed rank device (per-(partition,key) counts →
    // per-key offsets; bracketing values picked and interpolated
    // IN-PLAN via a broadcast probe join). Oracle: DuckDB's native
    // grouped quantile_cont — an independent engine's own grouped
    // type-7 implementation, the strongest oracle this operator can
    // have. round(4) absorbs interpolation ULP skew. Dispatch is
    // pinned OFF (builtinMaxGroupRows = 0) so this gate exercises
    // the rank kernel at every SF — at test scale the §5u auto-
    // dispatch would (correctly) answer with the built-in; both sides'
    // parity is QuantilesSpec's job.
    "q139_group_quantiles" -> ((s, dir) =>
      graft.ops.Quantiles.exactByKey(
          t(s, dir, "documents")
            .select(col("source"), octet_length(col("text")).as("len")),
          "source", "len", Seq(0.25, 0.5, 0.9),
          builtinMaxGroupRows = 0L)
        .select(col("key").as("source"), col("q"),
          round(col("exact_q"), 4).as("exact_q"))
        .orderBy(col("source"), col("q"))),

    // KNESER-NEY bigram NLL (ops/Retrieval.knBigramNll): the KenLM/
    // CCNet smoothing family next to q77's Jelinek-Mercer — absolute
    // discounting with CONTINUATION-count backoff ("how many contexts
    // does this word complete"), interpolated form, D = 0.75. The
    // oracle replays the full formula (discounted ML term + continuation
    // unigram) as chained CTEs over the same tokenization.
    "q140_kn_bigram_nll" -> ((s, dir) =>
      graft.ops.Retrieval.knBigramNll(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy(col("doc_id"))),

    // REFERENCE-MODEL KN scoring (Retrieval.knBigramNllAgainst): the
    // CCNet deployment shape — the model trains on the 'en' slice only
    // and scores the WHOLE corpus, so non-English docs exercise every
    // unseen-mass path (bigram-unseen backoff, context-unseen full
    // backoff, unk word at 1/(2B)) for real. n_unseen pins the backoff
    // accounting; the oracle replays model + scoring with LEFT joins.
    "q141_kn_score_ref" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Retrieval.knBigramNllAgainst(
        docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text")
        .orderBy(col("doc_id"))
    }),

    // SNAPSHOT RELEASE DIFF (Curation.corpusDiff): v2 is built from v1
    // by arithmetic (every 7th doc removed, every remaining 5th doc's
    // text amended, ten new ids appended) so the oracle can state each
    // id's expected status independently (q92's device) while the Spark
    // side derives it from the actual full-outer hash join — the
    // archive-maintenance face over the map-side content hashes.
    "q142_corpus_diff" -> ((s, dir) => {
      val a = t(s, dir, "documents")
      val b = a.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            // coalesce: a null-text doc must still AMEND (null -> " v2"
            // is 'changed' under the diff's null-distinct hashing);
            // bare concat would null out and read 'unchanged' while the
            // oracle's arithmetic CASE hardcodes 'changed'
            concat(coalesce(col("text"), lit("")), lit(" v2")))
          .otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.ops.Curation.corpusDiff(a, b, "doc_id",
        Seq("text", "lang", "source"))
        .orderBy(col("id"))
    }),

    // ORDER-3 INTERPOLATED KNESER-NEY, self-scored (Retrieval.
    // knNgramNll): q140's smoothing family at the deployment order —
    // recursive backoff (discounted trigram ML -> continuation-count
    // bigram -> continuation unigram), the KenLM/CCNet ladder one rung
    // below its 5-gram production shape. The oracle replays the FULL
    // recursion as chained CTEs: trigram counts/contexts from the
    // trigram stream, order-2 continuation counts from trigram TYPES,
    // the continuation unigram from bigram types — same frames, same
    // arithmetic order.
    "q143_kn_trigram_nll" -> ((s, dir) =>
      graft.ops.Retrieval.knNgramNll(t(s, dir, "documents"),
        "doc_id", "text", order = 3)
        .orderBy(col("doc_id"))),

    // REFERENCE-MODEL trigram KN (Retrieval.knNgramNllAgainst): the
    // model trains on the 'en' slice and scores the whole corpus, so
    // non-English docs walk the recursive backoff for real — unseen
    // trigram (discount 0 at order 3), unseen (w1,w2) context (drop to
    // the continuation bigram), unseen (w2) (drop to the continuation
    // unigram), unk word (1/(2B)). n_unseen pins the top-order
    // accounting; the oracle replays model + scoring with LEFT joins
    // and the same nested CASE ladder.
    "q144_kn_trigram_ref" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Retrieval.knNgramNllAgainst(
        docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text", order = 3)
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL RELEASE COMPOSITION (ops/Release): q142's diff +
    // the index-backed dedup gate + a token-count curation gate + the
    // persisted LSH dedup-reference index, composed end to end against
    // a REAL on-disk index (the q137 temp-path device). v2 is the q142
    // arithmetic construction, so the oracle can state every id's
    // status, dedup outcome, AND expected index membership
    // independently: the ten added docs are VERBATIM copies of docs
    // 0-9's v1 text, so a copy is a near-dup (jaccard 1.0, guaranteed
    // band collision) exactly when its original is still live —
    // original unchanged (X%7!=0, X%5!=0) -> deduped; original removed
    // or changed (the changed text's jaccard (nt-2)/(nt-1) sits below
    // the 0.999 threshold, and the old self is tombstoned BEFORE the
    // probe) -> clean. removed -> out of index; unchanged -> in (init
    // indexed all of v1); added/changed -> in iff not deduped and the
    // v2 text clears 40 tokens (a changed doc's " v2" amendment adds
    // exactly one token). `indexed` = re-indexed THIS release;
    // `in_index` = read back from the live band index itself — the
    // actual composed artifact under the hash gate, not a restatement.
    "q145_incremental_release" -> ((s, dir) => {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_relidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
        .getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val a = t(s, dir, "documents")
      val b = a.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(coalesce(col("text"), lit("")), lit(" v2")))
          .otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.ops.Release.initReferenceIndex(a, "doc_id", "text", base)
      val disp = graft.ops.Release.incrementalRelease(a, b,
        "doc_id", "text", Seq("text", "lang", "source"),
        df => df.filter(
          graft.ops.TextAnalysis.tokenCount(col("text")) >= 40),
        base, dedupThreshold = Some(0.999))
      val live = graft.ops.Release.readReferenceBands(s, base)
        .select(col("id")).distinct()
        .withColumn("__live", lit(true))
      disp.join(live, Seq("id"), "left")
        .select(col("id"), col("status"), col("indexed"), col("deduped"),
          coalesce(col("__live"), lit(false)).as("in_index"))
        .orderBy(col("id"))
    }),

    // 5-GRAM reference KN (Retrieval.knNgramNllAgainst, order = 5):
    // the order CCNet/KenLM actually deploy. Four backoff levels walk
    // in one fold — raw 5-gram counts at the top, continuation counts
    // from 5/4/3-gram TYPES below, the continuation unigram from
    // bigram types at the bottom — and the oracle replays every level
    // as chained CTEs (each order's continuation table from ITS OWN
    // (k+1)-gram stream, the padded-frame contract) with the same
    // nested CASE ladder as q144.
    "q146_kn_5gram_ref" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Retrieval.knNgramNllAgainst(
        docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text", order = 5)
        .orderBy(col("doc_id"))
    }),

    // CCNET END TO END (Retrieval.knPerplexityBuckets): the published
    // pipeline's full shape — reference-trained trigram KN model ('en'
    // slice), whole corpus scored, head/middle/tail split at the
    // corpus nll quartiles (exact percentile for oracle parity; the
    // 100 TB default is the mergeable sketch). The oracle replays the
    // q144 scoring CTEs and then DuckDB's own quantile_cont cutoffs +
    // the same CASE — q83's bucket device on the real CCNet signal.
    "q147_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.ops.Retrieval.knModel(
        docs.filter(col("lang") === "en"), "text", order = 3)
      graft.ops.Retrieval.knPerplexityBuckets(
        docs, "doc_id", "text", m, exact = true)
        .orderBy(col("doc_id"))
    }),

    // MODIFIED Kneser-Ney reference scoring (Retrieval
    // .knNgramNllModAgainst, order = 3): Chen & Goodman's three
    // count-class discounts per order — the estimator KenLM ships, so
    // with q146's order-5 face this completes the published
    // CCNet/KenLM smoothing surface. Each level's D1/D2/D3+ triple
    // estimates from ITS OWN count-of-counts (continuation counts
    // estimate their own — C&G's prescription for the lower orders);
    // the oracle recomputes the count-of-counts, the Y/D1/D2/D3+
    // algebra (same clamp/fallback CASE as estimateDiscounts), the
    // per-context class totals N1/N2/N3+, and the full recursion as
    // chained CTEs — q144's device with the discount scheme swapped.
    "q148_kn_mod_ref" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Retrieval.knNgramNllModAgainst(
        docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text", order = 3)
        .orderBy(col("doc_id"))
    }),

    // EM-TUNED Jelinek-Mercer weight (Retrieval.tuneJmLambda):
    // deleted interpolation — the train/held-out split is doc_id
    // parity, 3 EM iterations from 0.5, and the returned trace is the
    // verifiable artifact. Determinism rides 12-dp DECIMAL
    // responsibility sums (order-independent — no float-accumulation
    // drift between engines or partitionings) + 6-dp lambda rounding
    // per iteration (q123's device made exact); the oracle replays
    // train counts, held-out counts, pml/pbo, and all three
    // responsibility aggregates as chained scalar CTEs.
    "q149_jm_em_lambda" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val trace = graft.ops.Retrieval.tuneJmLambda(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text",
        iterations = 3)
      trace.zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("iter", "lambda").orderBy(col("iter"))
    }),

    // RECIPROCAL-RANK FUSION (Retrieval.hybridRrf/rrfFusion): the
    // rank-based hybrid — BM25 top-50 and exact-cosine top-50 fused by
    // rrf = sum 1/(60+rank), no score normalization (the reason RRF is
    // the default lexical+dense combiner: the two scores live on
    // incomparable scales, ranks don't). Complements q111's
    // score-blend hybrid. The oracle replays both rankings (q71's BM25
    // CTE + q50's cosine device), the fusion sum, and the rank
    // join-back. Both frontiers are candidate-sized; fusion is one
    // union + tiny groupBy — corpus touched only by the two rankers.
    "q150_rrf_fusion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      graft.ops.Retrieval.hybridRrf(
        t(s, dir, "documents"), "doc_id", "text",
        emb, "vec_id", "embedding",
        Seq("customer", "vector", "spark", "query"), qv,
        k = 15, rrfK = 60, candidates = 50)
    }),

    // DIRICHLET QUERY LIKELIHOOD (Retrieval.queryLikelihoodTopK):
    // LMIR.DIR (Zhai & Lafferty 2001) — the LM-based ranker next to
    // BM25's tf-idf one; rank-equivalent decomposition so only matched
    // terms shuffle and every doc pays the length prior through the
    // pinned per-doc-length frame (docs with zero hits still rank).
    // Oracle replays the decomposition exactly.
    "q151_query_likelihood" -> ((s, dir) => {
      graft.ops.Retrieval.queryLikelihoodTopK(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("customer", "vector", "spark", "query"), k = 15, mu = 2000.0)
    }),

    // HOST-LEVEL LINK GRAPH (Web.extractLinks + Web.linkGraph): href
    // extraction -> absolute-http(s) filter -> host parse -> PSL
    // eTLD+1 -> one (src,dst) aggregation shuffle; the q129/q138
    // composition a crawl pipeline feeds into PageRank. Pages are
    // synthesized from doc_id (q138's device): every page links its
    // .com site and a co.uk page twice-on-thirds, odd pages add a
    // *.ck wildcard-rule link, and a RELATIVE link that must NOT
    // produce an edge. The oracle replays the expected edges per
    // doc_id shape — the decision, independently of the regex.
    "q152_link_graph" -> ((s, dir) => {
      val psl = "// test rules\ncom\nuk\nco.uk\nck\n*.ck\n!www.ck\njp\n"
      val k = col("doc_id").cast("string")
      val dup = pmod(col("doc_id"), lit(3)) === 0
      val html = concat(
        lit("<html><body><a href=\"https://www.site"), k,
        lit(".com/page\">x</a><p>text</p><a HREF='http://sub.shop"), k,
        lit(".example.co.uk/y?z=1'>y</a><a href=\"/relative/skip\">r</a>"),
        when(dup, concat(lit("<a href=\"https://site"), k,
          lit(".com/other\">x2</a>"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 1,
          concat(lit("<a href=\"https://a"), k, lit(".b"), k,
            lit(".test.ck/\">w</a>"))).otherwise(lit("")),
        lit("</body></html>"))
      val pages = t(s, dir, "documents")
        .select(concat(lit("https://host"), k, lit(".jp/index.html"))
          .as("url"), html.as("html"))
      graft.ops.Web.linkGraph(pages, "url", "html", psl)
        .orderBy(col("src_domain"), col("dst_domain"))
    }),

    // PER-DOMAIN CAP (Curation.capPerKey): "at most N pages per
    // registered domain" — the anti-template-site token-budget policy.
    // Key = PSL eTLD+1 of a doc_id-derived host folded onto 8 domains
    // so every group overflows the cap; order = (n_chars desc, doc_id)
    // for a deterministic survivor set the oracle replays with the
    // same window.
    "q153_domain_cap" -> ((s, dir) => {
      val psl = "// test rules\ncom\nuk\nco.uk\n"
      val host = concat(lit("www.site"),
        pmod(col("doc_id"), lit(8)).cast("string"), lit(".com"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          graft.ops.Web.registrableDomainPsl(host, psl).as("domain"))
      graft.ops.Curation.capPerKey(docs, col("domain"), 25,
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("domain"), col("doc_id"), col("n_chars"))
        .orderBy(col("domain"), col("n_chars").desc, col("doc_id"))
    }),

    // ROC AUC (Eval.binaryAuc): Mann-Whitney rank-sum with mid-rank
    // tie credit — the acceptance metric for the learned quality
    // gates (q123's classifier emits scores; this says whether they
    // separate). score = n_chars (integer-valued -> heavy ties, the
    // mid-rank path is load-bearing), label = token count >= 40
    // (correlated -> AUC well above 0.5). The corpus collapses to
    // distinct-score groups; the rank prefix is the q132 distributed
    // prefix sum (range partition + offsets), never a global window;
    // all sums integer/half-integer so the oracle is bit-exact.
    "q154_binary_auc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Eval.binaryAuc(
        docs.select(col("n_chars").cast("double").as("score"),
          (graft.ops.TextAnalysis.tokenCount(col("text")) >= 40)
            .cast("int").as("label")),
        "score", "label")
    }),

    // CALIBRATION / ECE (Eval.calibration): reliability report of a
    // probabilistic scorer — 10 equal-width bins, per-bin mean score
    // vs empirical positive rate, expected calibration error folded
    // over the bins. The synthetic scorer is calibrated BY
    // CONSTRUCTION (label drawn by comparing two independent integer
    // hashes, P(y=1|p) ≈ p), all from exact integer arithmetic; score
    // sums ride 12-dp DECIMAL (the q149 device) so both engines bin
    // and average bit-identically.
    "q155_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val p = pmod(col("doc_id") * 131, lit(997)).cast("double") / 996.0
      val y = (pmod(col("doc_id") * 613, lit(997)) <
        pmod(col("doc_id") * 131, lit(997))).cast("int")
      graft.ops.Eval.calibration(
          docs.select(p.as("p"), y.as("y")), "p", "y", bins = 10)
        .orderBy(col("bin"))
    }),

    // ROBOTS.TXT CRAWL GATE (functions.RobotsKernel via
    // Web.robotsAllowed): RFC 9309 group resolution (exact agent
    // beats *), wildcard `*` + `$`-anchored patterns, longest-match
    // precedence — the politeness verdict a WARC pipeline applies
    // before a page enters the corpus. Five doc_id shapes cover
    // disallow-prefix, plain allow, allow-beats-shorter-disallow,
    // exact-agent-group, and wildcard-anchored rules; the oracle
    // replays the DECISION per shape (q138's device). The parsed rule
    // table caches per (robots digest, agent) per JVM, so per-row cost
    // is one digest + O(rules) probes inside codegen.
    "q156_robots_gate" -> ((s, dir) => {
      val k = col("doc_id").cast("string")
      val shape = pmod(col("doc_id"), lit(5))
      val robots = when(shape === 3,
          lit("User-agent: graftbot\nCrawl-delay: 2.5\nDisallow: /g/\n\n" +
            "User-agent: *\nCrawl-delay: 9\nAllow: /\n"))
        .when(shape === 2,
          lit("User-agent: *\nDisallow: /a/\nCrawl-delay: 1\nAllow: /a/b/\n"))
        .when(shape === 4, lit("User-agent: *\nDisallow: /*.pdf$\n"))
        .otherwise(lit("User-agent: *\nDisallow: /private/\n"))
      val path = when(shape === 0, concat(lit("/private/page"), k))
        .when(shape === 1, concat(lit("/public/page"), k))
        .when(shape === 2, concat(lit("/a/b/c"), k))
        .when(shape === 3, concat(lit("/g/x"), k))
        .otherwise(concat(lit("/files/doc"), k, lit(".pdf")))
      t(s, dir, "documents")
        .select(col("doc_id"), path.as("path"),
          graft.ops.Web.robotsAllowed(robots, path, "graftbot")
            .as("allowed"),
          graft.ops.Web.robotsCrawlDelay(robots, "graftbot")
            .as("crawl_delay"))
        .orderBy(col("doc_id"))
    }),

    // MMR DIVERSIFICATION (Retrieval.mmrDiversify): Carbonell &
    // Goldstein's greedy relevance-vs-redundancy re-rank over the
    // cosine top-50 frontier — the dedup-aware top-k. The greedy is
    // sequential in k, so it folds on the driver over PARAMETER-sized
    // state (50 rel rows + 1225 pairwise sims, all rounded 6 dp
    // in-plan); the oracle replays the full selection as a recursive
    // CTE carrying the selected-id list, with its own independently
    // computed pairwise sims.
    "q157_mmr_diversify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      graft.ops.Retrieval.mmrDiversify(emb, "vec_id", "embedding",
          qv, k = 10, lambda = 0.7, candidates = 50)
        .orderBy(col("rank"))
    }),

    // PCA / WHITENING (ops/Projection + functions.VectorMoments /
    // PcaProject): train-by-one-aggregation-pass (mergeable
    // [n, Σx, upper-tri Σxxᵀ] buffer — nothing vector-shaped
    // shuffles), driver-side Jacobi on the d×d system, codegen'd
    // map-only projection. Oracle device: the EXACT side is the 4×4
    // covariance of 6-dp-quantized leading dims (DECIMAL sums — both
    // engines replay bit-for-bit); the eigen side rides in-plan proof
    // booleans (orthonormality residual, descending eigenvalues, and
    // projected-coordinate variance == eigenvalue to 1e-6 relative —
    // true iff the components are genuine eigenvectors of THIS data's
    // covariance), the q65 bounded-error device.
    "q158_pca_audit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.ops.Projection.trainPca(emb, "embedding", 8)
      val st = emb
        .select(graft.ops.Projection.pcaProject(col("embedding"), m).as("y"))
        .agg(graft.functions.vec_moments(col("y"))).head().getSeq[Double](0)
      val n = st(0)
      val projVarOk = (0 until m.k).forall { j =>
        val mean = st(1 + j) / n
        val diag = st(1 + m.k + j * m.k - j * (j - 1) / 2)
        val v = diag / n - mean * mean
        m.eigenvalues(j) <= 1e-12 ||
          math.abs(v / m.eigenvalues(j) - 1.0) < 1e-6
      }
      val orthOk = m.orthonormalityResidual < 1e-9
      val eigDescOk = m.eigenvalues.zip(m.eigenvalues.drop(1))
        .forall { case (a, b) => a >= b }
      val x = emb
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)))
        .select(col("vec_id"), (col("pos") + 1).as("i"),
          round(col("col").cast("double"), 6).cast("decimal(12,6)").as("x"))
      val xb = x.select(col("vec_id"), col("i").as("j"), col("x").as("y"))
      x.join(xb, Seq("vec_id")).filter(col("i") <= col("j"))
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
        .select(col("i"), col("j"),
          round((col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / col("np")) /
            col("np"), 6).as("cov_q"),
          lit(orthOk).as("orthonormal_ok"),
          lit(eigDescOk).as("eig_desc_ok"),
          lit(projVarOk).as("proj_var_ok"))
        .orderBy(col("i"), col("j"))
    }),

    // SENTENCE-BOUNDARY CHUNKING (Curation.chunkBySentences): the RAG
    // chunker that never cuts mid-sentence — sentinel-insert split (no
    // lookbehind, so the oracle replays the same regex), per-doc
    // prefix-sum greedy fill at 40 tokens, oversized sentences keep a
    // chunk to themselves. Sentences are synthesized by attaching a
    // period to every 5th word of the corpus text (deterministic,
    // replayable); the oracle re-runs split + window prefix sum +
    // ordered string_agg end to end.
    "q159_sentence_chunks" -> ((s, dir) => {
      val punct = regexp_replace(trim(col("text")),
        "((?:\\S+ ){4}\\S+) ", "$1. ")
      graft.ops.Curation.chunkBySentences(
          t(s, dir, "documents").select(col("doc_id"), punct.as("text")),
          "doc_id", "text", 40)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // PER-KEY TOKEN BUDGET (Curation.tokenBudgetPerKey): mixture
    // construction's other cap — keep each source's docs best-first
    // while the exclusive running token total stays under 600 (the
    // straddling doc is kept, so no domain goes empty). One key
    // shuffle + a streaming prefix-sum window; the oracle replays the
    // same window arithmetic.
    "q160_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      graft.ops.Curation.tokenBudgetPerKey(docs, col("source"),
          col("n_tokens"), 600L,
          Seq(col("n_tokens").desc, col("doc_id")))
        .orderBy(col("source"), col("n_tokens").desc, col("doc_id"))
    }),

    // PCA-PREFILTERED TOP-K (Similarity.pcaTopK): cosine ranking in
    // the 32-dim PCA space (half the width — 64-dim, 40-cluster
    // embeddings spread energy wide; 32 components carry the ranking,
    // measured 10/10 at sf0.01 and 9/10 at sf0.1) shortlists 50,
    // exact rerank on full width —
    // the dimensionality-reduction member of the ANN family (IVF
    // prunes partitions, PQ compresses bytes, PCA compresses DIMS).
    // q53's oracle device: the emitted rows are the DuckDB-replayable
    // exact top-10; the PCA path's recall rides an in-plan >= 8/10
    // boolean computed by a left join against the exact frontier.
    "q161_pca_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val m = graft.ops.Projection.trainPca(emb, "embedding", 32)
      val pca = graft.ops.Similarity.pcaTopK(emb, "vec_id", "embedding",
        m, q, 10, shortlist = 50)
      val exact = graft.ops.Similarity.topK(emb, "vec_id", "embedding", q, 10)
      val w = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      exact.join(pca.select(col("vec_id")).withColumn("hit", lit(1)),
          Seq("vec_id"), "left")
        .withColumn("pca_recall_ok",
          sum(coalesce(col("hit"), lit(0))).over(w) >= 8L)
        .drop("hit")
        .orderBy(desc("sim"), col("vec_id"))
    }),

    // BATCH BM25 (Invert.bm25Batch): 12 queries against the postings
    // index in ONE plan — the retrieval-evaluation / negative-mining
    // shape (a per-query loop would plan one job per query; the batch
    // face joins the exploded (qid, term) frame to the postings once
    // and ranks per qid). Scoring algebra identical to q103's
    // single-query face; the oracle replays queries, per-term df over
    // the query vocabulary, the score sum, and the per-qid rank
    // window.
    "q162_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val posts = graft.ops.Invert.postings(docs, "doc_id", "text")
      val w1 = Seq("customer", "vector", "spark", "query")
      val w2 = Seq("table", "join", "batch")
      val queries = (0 until 12)
        .map(q => (q.toLong, Seq(w1(q % 4), w2(q % 3))))
        .toDF("qid", "terms")
      graft.ops.Invert.bm25Batch(posts,
          graft.ops.Invert.docLengths(posts), queries, "qid", "terms",
          k = 5)
        .orderBy(col("qid"), col("bm25").desc, col("doc_id"))
    }),

    // PSEUDO-RELEVANCE FEEDBACK (Retrieval.bm25Prf): RM3-lite — BM25
    // top-10 as the feedback set, its 4 most frequent non-query terms
    // expand the bag, one re-rank. The vocabulary-mismatch fix; the
    // oracle replays BOTH passes and the expansion pick (count desc,
    // term asc, originals excluded) as chained CTEs, and the
    // `expanded` audit column pins exactly which terms were added.
    "q163_bm25_prf" -> ((s, dir) => {
      graft.ops.Retrieval.bm25Prf(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("customer", "spark"), k = 10, fbDocs = 10, fbTerms = 4)
        .withColumn("expanded", array_join(col("expanded"), ","))
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // COLUMN PROFILE (Profile.columnProfile): the schema-level intake
    // audit — per column: rows, nulls, exact distinct, min/max
    // rendered as strings. One aggregation pass (Spark expands the
    // multi-distinct internally); a null is planted via NULLIF on
    // lang='de' so the null accounting is exercised, and the oracle
    // restates every cell per column.
    "q164_column_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("lang", nullif(col("lang"), lit("de")))
      graft.ops.Profile.columnProfile(docs,
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column"))
    }),

    // PRECISION-RECALL CURVE + AP (Eval.prCurve): q154's companion for
    // the imbalanced regimes quality gates live in — one row per
    // distinct descending threshold (ties collapsed, the sklearn
    // convention), AP folded from integer positives x 6-dp DECIMAL
    // precisions (order-independent). Same signals as q154 (score =
    // n_chars, label = token count >= 40) so the two artifacts
    // describe one classifier.
    "q165_pr_curve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Eval.prCurve(
          docs.select(col("n_chars").cast("double").as("score"),
            (graft.ops.TextAnalysis.tokenCount(col("text")) >= 40)
              .cast("int").as("label")),
          "score", "label")
        .orderBy(col("threshold").desc)
    }),

    // Ordered-funnel analysis over the event log (ops/Events.scala):
    // view → click → purchase with earliest-completion semantics (step k
    // must occur strictly after the user's first completion of step
    // k-1). One hash exchange on user_id; the chained window MINs and
    // the per-user collapse all reuse it. Oracle replays the identical
    // window chain in DuckDB.
    "q166_funnel" -> ((s, dir) =>
      graft.ops.Events.funnel(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))),

    // Weekly cohort retention (ops/Events.scala): cohort = ISO week of
    // first event; retention(o) = fraction active in cohort_week + o.
    // The event log collapses to (user, week) grain in the first
    // exchange; everything downstream is user-week- or weeks²-sized.
    "q167_cohort_retention" -> ((s, dir) =>
      graft.ops.Events.cohortRetention(t(s, dir, "events"), "user_id", "ts")),

    // Salted skew-join (ops/Scale.scala): orders (big, salted by row
    // hash) × customer (small, replicated 8×) on custkey, revenue per
    // market segment. Semantically a plain inner join — the oracle IS
    // the plain join — but the shuffle spreads any Zipf-hot customer
    // across 8 reducers; the explicit-salt path for when AQE's
    // sort-merge-only skew split can't reach the plan.
    "q168_salted_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), dec("o_totalprice"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.ops.Scale.saltedJoin(ord, cust, "o_custkey", "c_custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("__rev"))
        .select(col("c_mktsegment"), col("n_orders"),
          col("__rev").cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // Blocked fuzzy record linkage (ops/Linkage.scala): the part-name
    // dictionary (64 distinct names, min-partkey representative) self-
    // linked with Jaro-Winkler >= 0.86, blocked on the first name token
    // — pairs only form within a block (sum(block²), never n²). The
    // oracle is DuckDB's OWN jaro_winkler_similarity — an independent
    // implementation of the same published definition, so the kernel's
    // window/transposition/boost-threshold semantics are cross-checked
    // end to end, not restated.
    "q169_fuzzy_links" -> ((s, dir) => {
      val dict = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"))
      graft.ops.Linkage.fuzzyPairs(dict, "id", "name",
          split(col("name"), " ").getItem(0), 0.86)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // First-order Markov transition matrix of the event stream
    // (ops/Events.scala): per-user (ts, event_id)-ordered sequences,
    // explicit "__end" terminal state so each from-row sums to 1.
    "q170_markov" -> ((s, dir) =>
      graft.ops.Events.markovTransitions(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id")),

    // Exponential time-decay engagement score (ops/Events.scala):
    // half-life 7 days against the stream's max ts; DECIMAL(38,12)-
    // quantized terms make the double sum partition-invariant.
    "q171_decayed_score" -> ((s, dir) =>
      graft.ops.Events.decayedScore(t(s, dir, "events"),
        "user_id", "ts", "value", halfLifeDays = 7.0)),

    // A/B conversion readout (ops/Events.scala): md5-split variants
    // (the q56 device), conversion = >=1 high-value purchase (a plain
    // ">=1 purchase" saturates at ~66 events/user — every user converts,
    // p=1, z undefined), pooled two-proportion z-score.
    "q172_ab_test" -> ((s, dir) =>
      graft.ops.Events.abTest(t(s, dir, "events"), "user_id",
        col("event_type") === "purchase" && col("value") >= 95)),

    // Rolling active users (ops/Events.scala): exact DAU + trailing-7-day
    // actives for every calendar day (silent days included) — user-day
    // grain collapse, then a windowDays× explode + re-distinct; no range
    // join, no per-day re-scan.
    "q173_rolling_active" -> ((s, dir) =>
      graft.ops.Events.rollingActiveUsers(t(s, dir, "events"),
        "user_id", "ts", windowDays = 7)),

    // Key-skew profile (ops/Profile.scala): top-20 concentration-curve
    // head of orders.o_custkey — the measurement behind the q168 salting
    // decision.
    "q174_key_skew" -> ((s, dir) =>
      graft.ops.Profile.keySkewProfile(t(s, dir, "orders"), "o_custkey", 20)),

    // Churn labels (ops/Events.scala): cutoff = max(ts) - 14d; features
    // from the observation window, label = silent in the fully-observed
    // horizon — one user-key aggregation with conditional aggs.
    "q175_churn_labels" -> ((s, dir) =>
      graft.ops.Events.churnLabels(t(s, dir, "events"),
        "user_id", "ts", horizonDays = 14)),

    // Funnel step-latency quantiles (ops/Events.scala): funnelTimes →
    // latency unpivot → Quantiles.exactByKey (the q139 distributed
    // exact-quantile machine) — "where is the funnel SLOW" next to
    // q166's "where does it leak".
    "q176_funnel_latency" -> ((s, dir) =>
      graft.ops.Events.funnelLatencies(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        Seq(0.5, 0.9))),

    // Triangle count (ops/Graph.scala) of the co-purchase graph (parts
    // sharing an order): degree-oriented — out-degree bounded O(√m), so
    // no hub mints d² wedges on one reducer.
    "q177_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleCount(
        coPurchaseEdges(s, dir, minQty = None), "p1", "p2")),

    // Adamic-Adar link prediction (ops/Graph.scala) over the high-value
    // co-purchase graph (parts sharing an order, both lines qty >= 40):
    // score non-adjacent pairs by sum 1/ln(deg) over common neighbors,
    // maxDegree=60 hub-exclusion rail. The "related parts you haven't
    // bundled yet" candidate generator.
    "q178_adamic_adar" -> ((s, dir) =>
      graft.ops.Graph.adamicAdar(coPurchaseEdges(s, dir, Some(40)),
        "p1", "p2", maxDegree = 60, topK = 50)),

    // Market-basket association scores (ops/Recommend.scala): orders as
    // baskets, parts as items — support/confidence/lift for pairs
    // co-purchased in >= 2 orders, topK by lift. The classic
    // "users who bought X also bought Y" readout.
    "q179_market_basket" -> ((s, dir) =>
      graft.ops.Recommend.marketBasket(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2, topK = 100)),

    // Bigram PMI collocations (ops/TextAnalysis.scala): the corpus's
    // fixed phrases by pointwise mutual information over the bigram
    // event space — positional marginals, minCount=5 rare-pair rail.
    "q180_pmi_collocations" -> ((s, dir) =>
      graft.ops.TextAnalysis.pmiCollocations(t(s, dir, "documents"),
        "text", minCount = 5, topK = 50)),

    // Kaplan-Meier time-to-conversion (ops/Events.scala): hours from
    // first signup to first purchase at-or-after it, right-censored at
    // the log's max ts; survival via ordered window sum of quantized
    // log factors over the duration-grain curve.
    "q181_survival" -> ((s, dir) =>
      graft.ops.Events.timeToEventSurvival(t(s, dir, "events"),
        "user_id", "ts", "event_type", "signup", "purchase")),

    // Robust daily-volume anomalies (ops/Events.scala): per-event-type
    // modified z-score vs its own median/MAD history (both via the
    // q139 distributed exact-quantile machine); threshold 2.5 tuned
    // below the 3.5 default so the synthetic log exercises both
    // branches of the flag.
    "q182_anomaly_days" -> ((s, dir) =>
      graft.ops.Events.anomalousDays(t(s, dir, "events"),
        "event_type", "ts", threshold = 2.5)),

    // First/last-touch attribution (ops/Events.scala): purchases credit
    // the earliest and latest non-purchase event of the same user in a
    // 3-day lookback; no touch -> "(direct)". Deterministic (ts,
    // event_id) tiebreak; both models from one range join.
    "q183_attribution" -> ((s, dir) =>
      graft.ops.Events.attribution(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        col("event_type") === "purchase", lookbackMillis = 3L * 86400000L)),

    // Entity resolution E2E (ops/Linkage.scala): q169's fuzzy pair graph
    // (part-name dictionary, Jaro-Winkler >= 0.86, first-token blocks)
    // collapsed by connected components — transitive chains become one
    // entity; the oracle replays CC with a recursive reachability CTE.
    "q184_entity_clusters" -> ((s, dir) => {
      val dict = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"))
      graft.ops.Linkage.resolveEntities(dict, "id", "name",
        split(col("name"), " ").getItem(0), 0.86)
    }),

    // Gini + Lorenz deciles (ops/Profile.scala) of per-customer revenue:
    // global ranks via the Quantiles range-partition device (no
    // single-reducer sort), decimal-quantized rank-weighted sums.
    "q185_gini_revenue" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec("o_totalprice")).as("spend"))
        .select(col("spend").cast("double").as("spend"))
      graft.ops.Profile.giniLorenz(spend, "spend", buckets = 10)
    }),

    // Benford first-digit audit (ops/Profile.scala) of order totals:
    // observed vs log10(1+1/d) expectation + chi-square, digit from the
    // DECIMAL string form (log10-boundary-proof, engine-portable).
    "q186_benford" -> ((s, dir) =>
      graft.ops.Profile.benford(t(s, dir, "orders"), "o_totalprice")),

    // SES one-step forecast (ops/Events.scala): per-event-type daily
    // counts smoothed at alpha=0.3 via the closed-form unrolling — the
    // recursion is a dot product, so ONE weighted aggregate per key.
    "q187_ses_forecast" -> ((s, dir) =>
      graft.ops.Events.sesForecast(t(s, dir, "events"),
        "event_type", "ts", alpha = 0.3)),

    // Linear multi-touch attribution (ops/Events.scala): every touch in
    // the 3-day window gets 1/k of the conversion — credit sums to the
    // conversion count exactly (decimal-quantized shares).
    "q188_linear_attribution" -> ((s, dir) =>
      graft.ops.Events.attributionLinear(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        col("event_type") === "purchase", lookbackMillis = 3L * 86400000L)),

    // Zipf rank-frequency fit (ops/TextAnalysis.scala): OLS of ln(freq)
    // on ln(rank) over the top-200 terms — slope/intercept/r2 from
    // decimal-quantized moments.
    "q189_zipf_fit" -> ((s, dir) =>
      graft.ops.TextAnalysis.zipfFit(t(s, dir, "documents"),
        "text", topK = 200)),

    // Bloom-pruned join (ops/Scale.scala): BUILDING-segment customers'
    // key set as bloom bits probed map-side on orders BEFORE the
    // shuffle — the semi-join-pushdown device; the oracle is the PLAIN
    // join (identical semantics, the q168 contract).
    "q190_bloom_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), dec("o_totalprice"))
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_nationkey"))
      graft.ops.Scale.bloomPrunedJoin(ord, cust, "o_custkey", "c_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("__rev"))
        .select(col("c_nationkey"), col("n_orders"),
          col("__rev").cast("double").as("revenue"))
        .orderBy(col("c_nationkey"))
    }),

    // Local clustering coefficient (ops/Graph.scala) of the high-value
    // co-purchase graph: per-node 2T/d(d-1) from the degree-oriented
    // triangle enumeration; top-50 by (degree, node).
    "q191_clustering_coef" -> ((s, dir) =>
      graft.ops.Graph.localClustering(coPurchaseEdges(s, dir, Some(40)),
          "p1", "p2")
        .orderBy(col("degree").desc, col("node"))
        .limit(50)),

    // Window-constrained funnel (ops/Events.scala): q166's funnel with
    // each step required within 24 h of the previous step's earliest
    // completion — the greedy earliest-completion-with-window
    // convention product analytics uses.
    "q192_funnel_within" -> ((s, dir) =>
      graft.ops.Events.funnelWithin(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        withinMillis = 86400000L)),

    // Top user journeys (ops/Events.scala): each user's first 5 events
    // as a path string, counted across users — deterministic (ts,
    // event_id) order inside the path.
    "q193_top_paths" -> ((s, dir) =>
      graft.ops.Events.topPaths(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id", pathLen = 5,
        topK = 40)),

    // RFM segmentation (ops/Recommend.scala): recency/frequency/monetary
    // per customer scored 1..5 against exact quantile thresholds (the
    // distributed quantile machine, not a single-reducer ntile).
    "q194_rfm" -> ((s, dir) =>
      graft.ops.Recommend.rfmSegments(t(s, dir, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice", buckets = 5)),

    // Grid-bucketed geo kNN join (ops/Geo.scala): suppliers to their 3
    // nearest customers by haversine over key-derived coordinates — the
    // spatial "never cross join" (cell equi-join, 9 probes per query).
    "q195_geo_knn" -> ((s, dir) => {
      def pt(df: DataFrame, key: String) = df.select(col(key),
        (pmod(col(key) * 7919, lit(18000)) / 100.0 - 90.0).as("lat"),
        (pmod(col(key) * 104729, lit(36000)) / 100.0 - 180.0).as("lon"))
      val cust = pt(t(s, dir, "customer"), "c_custkey")
      val supp = pt(t(s, dir, "supplier"), "s_suppkey")
      graft.ops.Geo.gridKnnJoin(supp, "s_suppkey", cust, "c_custkey",
        "lat", "lon", k = 3, cellDeg = 10.0)
    }),

    // Day-of-week seasonality (ops/Events.scala): per event type, mean
    // daily count per weekday vs the overall daily mean — the
    // multiplicative index forecasting/baselining starts from.
    "q196_seasonality" -> ((s, dir) =>
      graft.ops.Events.seasonalityProfile(t(s, dir, "events"),
        "event_type", "ts")),

    // CUSUM changepoint scan (ops/Events.scala): per event type, the
    // argmax-|CUSUM| day with before/after means — "when did this
    // source's volume change".
    "q197_cusum" -> ((s, dir) =>
      graft.ops.Events.cusumChangepoint(t(s, dir, "events"),
        "event_type", "ts")),

    // Exact join-size probe (ops/Profile.scala): what orders JOIN
    // lineitem would produce, at key grain, plus the hottest key's
    // share — the pre-flight behind the q168 salting decision.
    "q198_join_size_probe" -> ((s, dir) =>
      graft.ops.Profile.joinSizeProbe(
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey")),

    // Per-source percentile normalization (ops/Curation.scala): doc
    // length percent-ranked WITHIN its source — the per-dump score
    // calibration (FineWeb device) before any global threshold.
    "q199_percentile_norm" -> ((s, dir) =>
      graft.ops.Curation.percentileNormalize(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .orderBy(col("doc_id"))),

    // TPC-H Q5 shape: local-supplier revenue by nation for one region
    // and one order year — the classic 6-table star join. The three
    // dimension tables ride EXPLICIT broadcasts (region/nation/supplier
    // are catalog-sized at any SF); only the two fact-fact joins
    // (orders-customer, lineitem-orders) shuffle, both on their keys,
    // with the date filter pushed into the orders scan.
    "q200_tpch_q5" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          dec("l_extendedprice"), dec("l_discount", 18, 6))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").where(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("__rev"))
        .select(col("n_name"),
          round(col("__rev").cast("double"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q3 shape: unshipped-order revenue for one market segment —
    // top-10 orders by discounted revenue; the segment dim broadcast,
    // both fact joins keyed, both date filters pushed.
    "q201_tpch_q3" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1997-06-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1997-06-01"))
        .select(col("l_orderkey"), dec("l_extendedprice"),
          dec("l_discount", 18, 6))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("__rev"))
        .select(col("l_orderkey"),
          round(col("__rev").cast("double"), 4).as("revenue"),
          col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Theil-Sen robust trend (ops/Events.scala): median pairwise slope
    // per event type over its daily counts — the outlier-proof "is
    // this source growing" next to q197's "did it jump".
    "q202_theil_sen" -> ((s, dir) =>
      graft.ops.Events.theilSenTrend(t(s, dir, "events"),
        "event_type", "ts")),

    // Pearson correlation matrix (ops/Profile.scala) over lineitem's
    // numeric columns — one aggregate pass, decimal-quantized moments.
    "q203_corr_matrix" -> ((s, dir) =>
      graft.ops.Profile.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Chi-square independence (ops/Profile.scala): market segment vs
    // nation over customers — dense expected grid, quantized fold.
    "q204_chi2_indep" -> ((s, dir) =>
      graft.ops.Profile.chiSquareIndependence(t(s, dir, "customer"),
        "c_mktsegment", "c_nationkey")),

    // Multi-source BFS (ops/Graph.scala): hop distance from the %200
    // seed parts over the high-value co-purchase graph, 3 hops — the
    // trusted-seed frontier question; oracle is a recursive CTE.
    "q205_bfs_hops" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir, Some(40))
      val seeds = t(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(200)) === 0)
        .select(col("p_partkey"))
      graft.ops.Graph.hopDistance(edges, "p1", "p2",
        seeds, "p_partkey", maxHops = 3)
    }),

    // ABC / Pareto classes (ops/Profile.scala): customers by cumulative
    // revenue share via the range-partition prefix-sum device — no
    // single-reducer sort, no ntile.
    "q206_abc_pareto" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec("o_totalprice")).cast("double").as("spend"))
      graft.ops.Profile.abcClassify(spend, "o_custkey", "spend")
    }),

    // Classification report (ops/Eval.scala): q154's length-based
    // scorer thresholded at 220 chars — confusion counts + precision/
    // recall/F1/accuracy/MCC in one aggregate pass.
    "q207_confusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Eval.confusionReport(
        docs.select(col("n_chars").cast("double").as("score"),
          (graft.ops.TextAnalysis.tokenCount(col("text")) >= 40)
            .cast("int").as("label")),
        "score", "label", threshold = 220.0)
    }),

    // WEIGHTED PageRank (ops/Graph.scala): the high-value co-purchase
    // graph with co-order counts as edge weights — contributions split
    // by weight share, the multi-edge-aware variant of q115.
    "q208_weighted_pagerank" -> ((s, dir) => {
      val pairs = coPurchaseEdges(s, dir, Some(40))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("w"))
      val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"),
          col("w"))
        .unionAll(pairs.select(col("p2").as("src"), col("p1").as("dst"),
          col("w")))
      graft.ops.Graph.pageRankWeighted(edges, "src", "dst", "w",
          iterations = 5)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // Salted aggregation (ops/Scale.scala): per-customer revenue through
    // the two-phase (key, salt) -> key fold — the skew-proof aggregate;
    // the oracle IS the plain GROUP BY (q168's contract).
    "q209_salted_agg" -> ((s, dir) =>
      graft.ops.Scale.saltedAgg(
          t(s, dir, "orders")
            .select(col("o_custkey"), dec("o_totalprice")),
          Seq("o_custkey"), salts = 8,
          partials = Seq(count(lit(1)).as("__n"),
            sum(col("o_totalprice")).as("__s")),
          merges = Seq(sum(col("__n")).as("n_orders"),
            sum(col("__s")).as("__rev")))
        .select(col("o_custkey"), col("n_orders"),
          col("__rev").cast("double").as("revenue"))
        .orderBy(col("o_custkey"))),

    // Deterministic label propagation (ops/Graph.scala): synchronous
    // min-tie LPA over the high-value co-purchase graph, 3 rounds —
    // the community detector between CC (too coarse) and modularity
    // (too heavy); the oracle replays every round.
    "q210_label_prop" -> ((s, dir) =>
      graft.ops.Graph.labelPropagation(coPurchaseEdges(s, dir, Some(40)),
        "p1", "p2", iterations = 3)),

    // HITS hubs/authorities (ops/Graph.scala) over the directed
    // customer->supplier purchase graph (q115's edge set), 3
    // iterations, L1 norm — top-20 authorities.
    "q211_hits" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_suppkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
      graft.ops.Graph.hits(edges, "src", "dst", iterations = 3)
        .orderBy(col("authority").desc, col("node")).limit(20)
    }),

    // Winsorization (ops/Curation.scala): document lengths clamped at
    // the exact p5/p95 — outlier treatment that keeps the row; the
    // thresholds land as literals so the clamp is map-only.
    "q212_winsorize" -> ((s, dir) =>
      graft.ops.Curation.winsorize(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", loQ = 0.05, hiQ = 0.95)
        .orderBy(col("doc_id"))),

    // 3-core (ops/Graph.scala): synchronized peeling of the high-value
    // co-purchase graph until fixpoint (asserted) — the dense backbone;
    // the oracle replays 8 peel rounds (idempotent past convergence).
    "q213_kcore" -> ((s, dir) =>
      graft.ops.Graph.kCore(coPurchaseEdges(s, dir, Some(40)),
        "p1", "p2", k = 3, maxRounds = 8)),

    // Degree assortativity (ops/Graph.scala): do hubs link to hubs?
    // Pearson over endpoint degrees (both orientations), exact decimal
    // moments via the correlation machine.
    "q214_assortativity" -> ((s, dir) =>
      graft.ops.Graph.assortativity(coPurchaseEdges(s, dir, Some(40)),
        "p1", "p2")),

    // Cohen's kappa (ops/Eval.scala): chance-corrected agreement between
    // the lang label and a stopword-ratio English heuristic — the
    // labeling-QA number raw agreement flatters.
    "q215_cohen_kappa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Eval.cohenKappa(
        docs.select((col("lang") === "en").cast("int").as("a"),
          (graft.ops.TextAnalysis.stopwordRatio(col("text")) >= 0.05)
            .cast("int").as("b")),
        "a", "b")
    }),

    // Poisson-bootstrap CI (ops/Profile.scala): 95% interval on the
    // mean order value from 100 deterministic hash-weighted replicas —
    // the at-scale bootstrap (one pass, no per-replica shuffle).
    "q216_bootstrap_ci" -> ((s, dir) =>
      graft.ops.Profile.bootstrapCiMean(t(s, dir, "orders"),
        "o_orderkey", "o_totalprice", replicas = 100, alpha = 0.05)),

    // Personalized (seeded) PageRank (ops/Graph.scala): q115's purchase
    // graph with teleport mass restricted to a trusted seed set
    // (customers of one nation — the TrustRank whitelist shape); both
    // teleport AND dangling mass return to the seeds, so sum(pr) == 1
    // and rank measures endorsement-from-seeds. Same fixed-5-round
    // unroll as q115; the oracle replays the seed-gated teleport term
    // round for round as chained CTEs.
    "q217_personalized_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_suppkey")).as("dst"))
        .distinct()
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 7)
        .select(col("c_custkey").as("seed"))
      graft.ops.Graph.personalizedPageRank(edges, "src", "dst",
          seeds, "seed", iterations = 5)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // CUPED variance-reduced A/B readout (ops/Events.scala): q172's
    // hash-split experiment adjusted by a pre-experiment engagement
    // covariate (click+view count) — theta = cov(x,y)/var(x) from ONE
    // decimal-quantized moments aggregation; the oracle replays the
    // moments and the double algebra term for term.
    "q218_cuped_abtest" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
            .cast("double").as("y"),
          count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("x"))
        .withColumn("variant",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Events.cupedAdjust(perUser, "variant", "y", "x")
    }),

    // Landmark harmonic centrality (ops/Graph.scala): q205's seed set
    // and co-purchase graph, sum of 1/d over seeds within 3 hops — the
    // Boldi-Vigna coverage centrality; oracle = per-seed recursive-CTE
    // min distances (q205's device with a composite key).
    "q219_harmonic_centrality" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir, Some(40))
      val seeds = t(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(200)) === 0)
        .select(col("p_partkey"))
      graft.ops.Graph.harmonicCentrality(edges, "p1", "p2",
        seeds, "p_partkey", maxHops = 3)
    }),

    // Deterministic random walks (ops/Graph.scala): DeepWalk corpus
    // generation over the co-purchase graph — transitions argmin an
    // md5("w:t:u:v") hash over neighbors (uniform, replayable), so the
    // oracle re-walks every step as chained CTEs with the same hash.
    "q220_random_walks" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir, Some(40))
      val starts = t(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(100)) === 0)
        .select(col("p_partkey").as("wid"), col("p_partkey").as("node"))
      graft.ops.Graph.randomWalks(edges, "p1", "p2",
        starts, "wid", "node", len = 4)
    }),

    // Two-sample KS drift test (ops/Profile.scala): did the English
    // slice's length distribution drift from the rest of the corpus?
    // D = sup CDF gap over the distinct-value grain via the
    // range-partition prefix-sum device; p from the asymptotic
    // Kolmogorov series, folded in a fixed order the oracle replays.
    "q221_ks_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        // lang IS NOT NULL mirrors the oracle's predicate exactly — a
        // null lang must not silently join the "other" group on one
        // face only (operator/oracle parity)
        .filter(col("lang").isNotNull)
        .select(when(col("lang") === "en", "en").otherwise("other")
          .as("grp"), col("n_chars"))
      graft.ops.Profile.ksTest(docs, "grp", "n_chars")
    }),

    // Mann-Whitney U (ops/Profile.scala): does order priority shift the
    // order-value distribution? Rank-sum with mid-rank ties via the
    // prefix-sum device; tie-corrected normal z, p through the A&S
    // 7.1.26 polynomial (replayable — no libm erf dependency).
    "q222_mann_whitney" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.ops.Profile.mannWhitney(orders, "o_orderpriority",
        "o_totalprice")
    }),

    // Benjamini-Hochberg FDR (ops/Profile.scala): per-doc pseudo
    // p-values (Knuth-hash uniform — deterministic) adjusted to
    // q-values; the suffix-min rides the prefix-sum device run
    // descending. The multiple-testing control for the q182/q221/q222
    // families at fleet scale.
    "q223_bh_fdr" -> ((s, dir) => {
      val tests = t(s, dir, "documents")
        .select(col("doc_id"),
          (((col("doc_id") * lit(2654435761L)) % lit(1000000L))
            .cast("double") / lit(999999.0)).as("p_value"))
      graft.ops.Profile.bhAdjust(tests, "p_value")
        .orderBy(col("doc_id"))
    }),

    // Difference-in-differences (ops/Events.scala): did the B variant's
    // per-user purchase value move more across the mid-month boundary
    // than A's common trend? Unit grain = (user, half-month), one
    // moments aggregation + 4-cell algebra; the oracle replays the
    // decimal moments and every double op.
    "q224_diff_in_diff" -> ((s, dir) => {
      val perUnit = t(s, dir, "events")
        .select(col("user_id"),
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B").as("grp"),
          when(col("ts") < lit("2024-01-16").cast("timestamp"),
            "p0_pre").otherwise("p1_post").as("period"),
          when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).as("v"))
        .groupBy(col("user_id"), col("grp"), col("period"))
        .agg(sum(col("v").cast("decimal(38,12)")).cast("double").as("y"))
      graft.ops.Events.diffInDiff(perUnit, "grp", "period", "y")
    }),

    // Lexical diversity (ops/TextAnalysis.scala): TTR, hapax share and
    // Yule's K per document — the length-invariant repetitiveness gate
    // next to q58's surface-repeat ratio. One (doc, word) count shuffle
    // + one doc-keyed moments re-agg; all integer until the readout.
    "q225_lexical_diversity" -> ((s, dir) =>
      graft.ops.TextAnalysis.lexicalDiversity(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Cochran-Mantel-Haenszel (ops/Profile.scala): variant vs
    // urgent-order conversion, stratified by market segment — the
    // Simpson's-paradox-safe A/B. One stratum aggregation, decimal
    // E/V/OR terms, chi-square p via the A&S polynomial.
    "q226_cmh_test" -> ((s, dir) => {
      val conv = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val units = t(s, dir, "customer")
        .join(conv, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment").as("seg"),
          when(substring(md5(col("c_custkey").cast("string")), 1, 1) < "8",
            "A").otherwise("B").as("grp"),
          when(col("o_custkey").isNotNull, 1).otherwise(0).as("conv"))
      graft.ops.Profile.cmhTest(units, "seg", "grp", "conv")
    }),

    // Covariate balance / SMD (ops/Events.scala): is the hash-split
    // experiment actually balanced on pre-metrics? One group-keyed
    // moments aggregation across all covariates, SMD per covariate
    // with the |SMD|>0.1 imbalance flag.
    "q227_covariate_balance" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("engagement"),
          sum(col("value").cast("decimal(38,12)")).cast("double")
            .as("total_value"),
          count(lit(1)).cast("double").as("n_events"))
        .withColumn("grp",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Events.covariateBalance(perUser, "grp",
          Seq("engagement", "total_value", "n_events"))
        .orderBy(col("covariate"))
    }),

    // OLS regression-adjusted treatment effect / ANCOVA
    // (ops/Events.scala): q218's experiment re-read with TWO covariates
    // (engagement count, distinct active days) — one variant-keyed
    // Gram-moment aggregation, pivotless Gauss-Jordan on the 4×4
    // normal equations driver-side; the oracle unrolls the identical
    // elimination order over the same decimal-exact moments.
    "q228_ols_adjust" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))).cast("double").as("y"),
          count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("engagement"),
          countDistinct(to_date(col("ts"))).cast("double")
            .as("active_days"))
        .withColumn("variant",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Events.olsAdjust(perUser, "variant", "y",
        Seq("engagement", "active_days"))
    }),

    // Newman modularity of q210's LPA partition (ops/Graph.scala): do
    // the 3-round communities mean anything? Per community, intra-edge
    // fraction minus the degree-null expectation — two edge-sized label
    // joins + one community aggregate; sum(q_contrib) is Q.
    "q229_modularity" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir, Some(40))
      val labels = graft.ops.Graph.labelPropagation(edges, "p1", "p2",
        iterations = 3)
      graft.ops.Graph.modularity(edges, "p1", "p2",
        labels, "node", "community")
    }),

    // Weighted landmark shortest paths (ops/Graph.scala): q219's seed
    // set over the co-purchase graph with a deterministic arithmetic
    // weight — min-plus frontier relaxation, 4 hops; the oracle
    // replays each relaxation round as an unrolled min-plus CTE.
    "q230_weighted_sssp" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir, Some(40))
        .withColumn("w", ((col("p1") + col("p2")) % 9 + 1).cast("double"))
      val seeds = t(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(200)) === 0)
        .select(col("p_partkey"))
      graft.ops.Graph.weightedDistances(edges, "p1", "p2", "w",
        seeds, "p_partkey", maxHops = 4)
    }),

    // Two-sample bootstrap CI (ops/Profile.scala): the interval on the
    // A/B difference of per-user purchase value — q216's paired
    // hash-weight Poisson device with the group label riding the
    // aggregation key, 100 replicas in one ⌈B/2⌉-hash pass.
    "q231_bootstrap_diff" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).cast("double").as("y"))
        .withColumn("variant",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Profile.bootstrapCiMeanDiff(perUser, "user_id",
        "variant", "y", replicas = 100)
    }),

    // Additive Holt-Winters (ops/Events.scala): per-event-type daily
    // volume over a 28-day zero-filled spine, weekly season — the
    // whole recursion is ONE aggregate() fold per key; the oracle
    // replays it as a recursive CTE with identical expression shapes.
    "q232_holt_winters" -> ((s, dir) =>
      graft.ops.Events.holtWinters(t(s, dir, "events"), "event_type",
        "ts", "2024-01-01", numDays = 28, seasonLen = 7,
        alpha = 0.4, beta = 0.1, gamma = 0.2)),

    // DiD with covariates (ops/Events.scala): q224's quasi-experiment
    // re-estimated as a regression — treated/post/interaction dummies
    // plus per-period engagement, one Gram aggregation + the shared
    // Gauss-Jordan; the did_effect row is the adjusted estimate.
    "q233_did_adjusted" -> ((s, dir) => {
      val units = t(s, dir, "events")
        .withColumn("period",
          when(to_date(col("ts")) < lit("2024-01-16").cast("date"),
            "p0_pre").otherwise("p1_post"))
        .groupBy(col("user_id"), col("period"))
        .agg(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))).cast("double").as("y"),
          count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("engagement"))
        .withColumn("grp",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Events.didAdjusted(units, "grp", "period", "y",
        Seq("engagement"))
    }),

    // Holt-Winters one-step backtest (ops/Events.scala): q232's fit
    // with the error accumulators riding the SAME fold — MAE/RMSE/MAPE
    // of the pre-update forecasts, zero extra passes.
    "q234_hw_backtest" -> ((s, dir) =>
      graft.ops.Events.holtWintersBacktest(t(s, dir, "events"),
        "event_type", "ts", "2024-01-01", numDays = 28, seasonLen = 7,
        alpha = 0.4, beta = 0.1, gamma = 0.2)),

    // Brier decomposition (ops/Eval.scala): q155's synthetic scorer
    // read as reliability / resolution / uncertainty + the
    // within-bucket remainder — one corpus aggregation to the bins
    // frame, decimal-quantized bin terms, order-free fold.
    "q235_brier_decomposition" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val p = pmod(col("doc_id") * 131, lit(997)).cast("double") / 996.0
      val y = (pmod(col("doc_id") * 613, lit(997)) <
        pmod(col("doc_id") * 131, lit(997))).cast("int")
      graft.ops.Eval.brierDecomposition(
        docs.select(p.as("p"), y.as("y")), "p", "y", bins = 10)
    }),

    // Landmark betweenness dependency (ops/Graph.scala): Brandes
    // forward sigma counts + backward delta accumulation from q219's
    // seed set, hop-capped at 3 — which parts broker the co-purchase
    // paths; the oracle replays both passes hop for hop.
    "q236_betweenness" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir, Some(40))
      val seeds = t(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(200)) === 0)
        .select(col("p_partkey"))
      graft.ops.Graph.betweennessDependency(edges, "p1", "p2",
        seeds, "p_partkey", maxHops = 3)
    }),

    // Always-valid sequential test (ops/Profile.scala): q231's A/B
    // frame through the mSPRT mixture likelihood — the peeking-safe p
    // a daily-polled dashboard needs; one variant-keyed moments
    // aggregation, the Λ algebra replayed exactly.
    "q237_msprt" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).cast("double").as("y"))
        .withColumn("variant",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Profile.msprtTest(perUser, "variant", "y", tau = 50.0)
    }),

    // k-truss (ops/Graph.scala): the 5-truss of the co-purchase graph
    // — every kept edge closes >= 3 triangles INSIDE the kept set
    // (kCore's edge-cohesion sibling; 5691 -> 301 edges in 3 peels at
    // sf0.01); the oracle unrolls the peel rounds, idempotent past the
    // fixpoint, then recomputes support over the final truss.
    "q238_ktruss" -> ((s, dir) =>
      graft.ops.Graph.kTruss(coPurchaseEdges(s, dir, Some(40)),
        "p1", "p2", k = 5, maxRounds = 8)),

    // Isotonic calibration (ops/Eval.scala): the monotone fix for
    // q155's miscalibration readout, via the minimax closed form
    // (= PAV's result, but an exact prefix-sum algebra the oracle
    // replays interval for interval).
    "q239_isotonic_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val p = pmod(col("doc_id") * 131, lit(997)).cast("double") / 996.0
      val y = (pmod(col("doc_id") * 613, lit(997)) <
        pmod(col("doc_id") * 131, lit(997))).cast("int")
      graft.ops.Eval.isotonicCalibration(
        docs.select(p.as("p"), y.as("y")), "p", "y", bins = 10)
    }),

    // Log-rank test (ops/Profile.scala): q181's survival curve split
    // into two md5 arms — did arm B's time-to-purchase distribution
    // differ, honoring right-censoring? O/E/V over the distinct-time
    // grain via the prefix-sum device, chi-square(1) p through the A&S
    // normal tail.
    "q240_logrank" -> ((s, dir) =>
      graft.ops.Profile.logRankTest(survivalArms(s, dir), "grp", "t",
        "e")),

    // Spearman rank correlation (ops/Profile.scala): quantity vs
    // extended price on lineitem — Pearson on mid-ranks (both axes via
    // the prefix-sum rank device), outlier-immune where q203's Pearson
    // is tail-dominated; large-sample normal z/p through the A&S tail.
    "q241_spearman" -> ((s, dir) =>
      graft.ops.Profile.spearmanCorr(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice")),

    // PSI + Jensen-Shannon drift (ops/Profile.scala): did the
    // event-type mix shift across the mid-month boundary? Category-
    // grain shares, clamped PSI terms + clamp-free JSD terms, scalar
    // totals as decimal-quantized sums riding every row.
    "q242_psi_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      graft.ops.Profile.distributionDrift(
        ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
        "event_type")
    }),

    // ACF + Ljung-Box (ops/Events.scala): per-event-type daily-count
    // autocorrelations at lags 1..7 with the cumulative white-noise Q
    // — the "is there structure worth forecasting" gate in front of
    // q187/q232; all windows keyed over calendar-bounded partitions.
    "q243_acf" -> ((s, dir) =>
      graft.ops.Events.acf(t(s, dir, "events"), "event_type", "ts",
        maxLag = 7)),

    // IPW average treatment effect (ops/Events.scala): effect of being
    // a high-error user (>= 14 error events) on purchase value, with
    // the propensity e(engagement, active_days) fit by 6 Newton steps
    // and Hajek-normalized clipped weights — the observational-causal
    // readout beside q228's outcome regression.
    "q244_ipw_ate" -> ((s, dir) =>
      graft.ops.Events.ipwAte(errTreatUsers(s, dir), "t", "y",
        Seq("engagement", "active_days"), iters = 6)),

    // Logistic regression by IRLS (ops/Events.scala): q244's
    // propensity model exposed — P(high-error | engagement, active
    // days), coef/se/z per term from the final Newton step's inverse
    // Hessian; iters x one decimal-quantized moments aggregation.
    "q245_logistic_fit" -> ((s, dir) =>
      graft.ops.Events.logisticFit(errTreatUsers(s, dir), "t",
        Seq("engagement", "active_days"), iters = 6)),

    // Doubly-robust AIPW effect (ops/Events.scala): q244's IPW plus
    // per-arm OLS outcome models, combined so either model being right
    // keeps the estimate consistent — propensity via 6 Newton steps,
    // both arms' normal equations in ONE grouped Gram aggregation,
    // one final decimal-quantized score pass.
    "q246_aipw_ate" -> ((s, dir) =>
      graft.ops.Events.aipwAte(errTreatUsers(s, dir), "t", "y",
        Seq("engagement", "active_days"), iters = 6)),

    // Gains/lift chart (ops/Eval.scala): q239's pseudo-scored corpus
    // cut into score deciles — per-decile response rate, lift over the
    // base rate, cumulative capture + lift; doc_id breaks score ties
    // so bucket composition is engine-deterministic.
    "q247_lift_chart" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val p = pmod(col("doc_id") * 131, lit(997)).cast("double") / 996.0
      val y = (pmod(col("doc_id") * 613, lit(997)) <
        pmod(col("doc_id") * 131, lit(997))).cast("int")
      graft.ops.Eval.liftChart(
        docs.select(col("doc_id"), p.as("p"), y.as("y")),
        "p", "y", "doc_id", buckets = 10)
    }),

    // Corpus BLEU-4 (ops/TextAnalysis.scala): a synthetic "generation"
    // — each document's first 3/4 of tokens with every 7th corrupted —
    // scored against the full text: clipped n-gram precisions (exact
    // integer corpus sums), geometric mean, corpus brevity penalty;
    // the generation-eval staple.
    "q248_bleu" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.ops.TextAnalysis.tokens(col("text")).as("tk"))
      val pairs = d0.select(col("doc_id"),
        concat_ws(" ", transform(
          slice(col("tk"), lit(1),
            greatest((size(col("tk")) * 3 / 4).cast("int"), lit(1))),
          (x, i) => when(pmod(i, lit(7)) === 3, lit("xx")).otherwise(x)))
          .as("cand"),
        col("text").as("ref"))
      graft.ops.TextAnalysis.bleuCorpus(pairs, "cand", "ref", "doc_id")
    }),

    // ROUGE-1/2/L per pair (ops/TextAnalysis.scala): q248's corrupted
    // prefixes scored as summaries — clipped n-gram P/R/F1 plus
    // LCS-based ROUGE-L via the codegen'd token_lcs kernel. The 'xx'
    // corruption token is vocabulary-absent, so the oracle's LCS
    // closed form (clean prefix tokens) is exact.
    "q249_rouge" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.ops.TextAnalysis.tokens(col("text")).as("tk"))
      val pairs = d0.select(col("doc_id"),
        concat_ws(" ", transform(
          slice(col("tk"), lit(1),
            greatest((size(col("tk")) * 3 / 4).cast("int"), lit(1))),
          (x, i) => when(pmod(i, lit(7)) === 3, lit("xx")).otherwise(x)))
          .as("cand"),
        col("text").as("ref"))
      graft.ops.TextAnalysis.rougeScores(pairs, "cand", "ref", "doc_id")
    }),

    // Kendall's tau-b (ops/Profile.scala): quantity vs discount on
    // lineitem — concordant/discordant pair counts off the dense
    // 50x11 value grid via 2-D suffix-sum windows, every quantity an
    // exact integer (DECIMAL products); tie-corrected denominators.
    "q250_kendall_tau" -> ((s, dir) =>
      graft.ops.Profile.kendallTauB(t(s, dir, "lineitem"),
        "l_quantity", "l_discount")),

    // Per-arm KM curves + Nelson-Aalen hazard (ops/Events.scala):
    // q240 said WHETHER the arms differ; this shows WHERE the curves
    // separate — per (arm, hour) at-risk/events/censored, KM survival,
    // cumulative hazard; all windows partitioned by arm.
    "q251_km_curves" -> ((s, dir) =>
      graft.ops.Events.kmCurves(survivalArms(s, dir), "grp", "t", "e")),

    // Poisson regression (ops/Events.scala): purchases-per-user count
    // ~ engagement + active days through the shared canonical-link
    // IRLS core (mu = e^eta, weight = mu) — the count GLM beside
    // q245's binary one; coefficients read as log-rate-ratios.
    "q252_poisson" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "purchase", 1))
            .cast("double").as("n_purch"),
          count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("engagement"),
          countDistinct(to_date(col("ts"))).cast("double")
            .as("active_days"))
      graft.ops.Events.poissonFit(perUser, "n_purch",
        Seq("engagement", "active_days"), iters = 8)
    }),

    // Dunning keyness (ops/TextAnalysis.scala): which words mark the
    // English slice against the rest — per-word G2 log-likelihood over
    // the vocab-grain join, top 50 with over/under direction.
    "q253_keyness" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.keyness(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang").isNotNull && col("lang") =!= "en"),
        "text", topK = 50)
    }),

    // Classical seasonal decomposition (ops/Events.scala): per
    // event-type daily counts split into centered-7-day-MA trend +
    // centered day-of-week seasonal + remainder — the decomposition
    // face beside q186's profile and q232's forecaster.
    "q254_seasonal_decompose" -> ((s, dir) =>
      graft.ops.Events.seasonalDecompose(t(s, dir, "events"),
        "event_type", "ts")),

    // Embedding centroid drift (ops/Similarity.scala): even vs odd
    // vec_ids as reference/live — centroid cosine + per-side mean
    // norms; one per-side fold pass + one dimension-keyed aggregation,
    // all cross-row sums decimal-quantized.
    "q255_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.centroidDrift(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding")
    }),

    // Split conformal calibration (ops/Eval.scala): distribution-free
    // interval half-width at alpha=0.1 over a pseudo-regressor of
    // n_chars — the ceil((n+1)(1-alpha))-th residual order statistic
    // via the prefix-sum device, with the in-sample coverage proof.
    "q256_conformal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("n_chars").cast("double").as("actual"),
          (col("n_chars").cast("double") +
            (pmod(col("doc_id") * 131, lit(997)) - 498).cast("double"))
            .as("pred"))
      graft.ops.Eval.splitConformal(docs, "pred", "actual", alpha = 0.1)
    }),

    // Huber robust regression (ops/Events.scala): purchase value ~
    // engagement + active days with bounded per-row influence — OLS
    // start, 6-dp preliminary MAD scale via the exact quantile
    // machine, four reweighted solves.
    "q257_huber" -> ((s, dir) =>
      graft.ops.Events.huberFit(errTreatUsers(s, dir), "y",
        Seq("engagement", "active_days"), iters = 4)),

    // Propensity-matched ATT (ops/Events.scala): each high-error user
    // paired with its nearest control on the propensity score (with
    // replacement, caliper 0.1) — the visible-pairs causal readout
    // beside q244/q246; nearest neighbors via in-partition struct
    // windows + the 32-row boundary carry.
    "q258_matched_att" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "error", 1)).as("n_err"),
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).cast("decimal(38,12)"))
            .cast("double").as("y"),
          count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("engagement"),
          countDistinct(to_date(col("ts"))).cast("double")
            .as("active_days"))
        .select(col("user_id"),
          when(col("n_err") >= 14, 1.0).otherwise(0.0).as("t"),
          col("y"), col("engagement"), col("active_days"))
      graft.ops.Events.matchedAte(perUser, "user_id", "t", "y",
        Seq("engagement", "active_days"), iters = 6, caliper = 0.1)
    }),

    // Quantile treatment effects (ops/Profile.scala): per-quantile
    // purchase-value differences between the md5 arms — where in the
    // distribution does the "effect" live, not just the mean; exact
    // type-7 quantiles per arm, tau-keyed pivot.
    "q259_qte" -> ((s, dir) => {
      val purchases = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B").as("grp"),
          col("value"))
      graft.ops.Profile.quantileTreatmentEffects(purchases, "grp",
        "value")
    }),

    // Mutual information (ops/Profile.scala): how many nats does
    // `source` carry about `lang` — entropies off one contingency
    // aggregation, every p·ln p term decimal-quantized; NMI rescales
    // to [0,1] so it reads as a redundancy score.
    "q260_mutual_info" -> ((s, dir) =>
      graft.ops.Profile.mutualInformation(t(s, dir, "documents"),
        "lang", "source")),

    // Sample-ratio-mismatch guardrail (ops/Profile.scala): 2:1:1
    // md5-bucketed arms over event users — chi-square GOF against the
    // design weights, Wilson-Hilferty p; the check every A/B readout
    // runs before anyone reads the metric.
    "q261_srm" -> ((s, dir) => {
      val users = t(s, dir, "events")
        .select(col("user_id")).distinct()
        .select(when(substring(md5(col("user_id").cast("string")), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), "a")
          .when(substring(md5(col("user_id").cast("string")), 1, 1)
            .isin("8", "9", "a", "b"), "b")
          .otherwise("c").as("arm"))
      graft.ops.Profile.srmCheck(users, "arm",
        Map("a" -> 2.0, "b" -> 1.0, "c" -> 1.0))
    }),

    // Cochran-Armitage trend (ops/Profile.scala): does the fulfilled
    // share fall monotonically across order-priority ranks — the
    // dose-response test, scores 1..5 from the priority prefix, one
    // decimal-quantized moments aggregation.
    "q262_trend_test" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .filter(col("o_orderpriority").isNotNull)
        .select(substring(col("o_orderpriority"), 1, 1).cast("double")
            .as("rank"),
          when(col("o_orderstatus") === "F", 1.0).otherwise(0.0)
            .as("fulfilled"))
      graft.ops.Profile.cochranArmitage(orders, "rank", "fulfilled")
    }),

    // Ridge regression (ops/Events.scala): q257's design solved with
    // an L2 penalty on the non-intercept diagonal of the Gram matrix
    // — the collinearity-stable face of q228's OLS (same moments,
    // same pivotless solve, lambda added before elimination).
    "q263_ridge" -> ((s, dir) =>
      graft.ops.Events.ridgeFit(errTreatUsers(s, dir), "y",
        Seq("engagement", "active_days"), lambda = 25.0)),

    // Gamma GLM (ops/Events.scala): positive per-user purchase value
    // ~ engagement + active days with V(mu) = mu² — Fisher scoring
    // (W = 1, residual (y−mu)/mu), intercept seeded at ln ȳ; the
    // right-skew-continuous face beside q252's count GLM.
    "q264_gamma_glm" -> ((s, dir) =>
      graft.ops.Events.gammaFit(errTreatUsers(s, dir), "y",
        Seq("engagement", "active_days"), iters = 8)),

    // Negative-binomial GLM (ops/Events.scala): overdispersed per-user
    // error counts ~ engagement + active days at fixed alpha = 0.5 —
    // q252's Poisson with the NB2 variance mu + alpha·mu² widening
    // the standard errors.
    "q265_negbin" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "error", 1))
            .cast("double").as("n_err"),
          count(when(col("event_type").isin("click", "view"), 1))
            .cast("double").as("engagement"),
          countDistinct(to_date(col("ts"))).cast("double")
            .as("active_days"))
      graft.ops.Events.negBinFit(perUser, "n_err",
        Seq("engagement", "active_days"), alpha = 0.5, iters = 8)
    }),

    // Simplified silhouette (ops/Similarity.scala): are the embedding
    // labels geometrically real — per point, distance to its own
    // label's centroid vs the nearest other centroid, scored per label;
    // centroids from one dimension-keyed decimal aggregation, distances
    // as a map-side expression block (no N×k join).
    "q266_silhouette" -> ((s, dir) =>
      graft.ops.Similarity.clusterSilhouette(t(s, dir, "embeddings"),
        "embedding", "label")),

    // Davies-Bouldin index (ops/Similarity.scala): the one-number
    // separation readout beside q266 — max over rivals of
    // (S_i+S_j)/M_ij averaged across clusters, lower is better.
    "q267_davies_bouldin" -> ((s, dir) =>
      graft.ops.Similarity.daviesBouldin(t(s, dir, "embeddings"),
        "embedding", "label")),

    // TextRank keywords (ops/TextAnalysis.scala): corpus keywords as
    // the top-PageRank words of the adjacency co-occurrence graph —
    // q208's weighted iteration on a text-built edge list, scores on
    // the paper's mean-1 scale (PageRank × N).
    "q268_textrank" -> ((s, dir) =>
      graft.ops.TextAnalysis.textRank(t(s, dir, "documents"), "text",
        topK = 25, iterations = 5)),

    // Time-decay attribution (ops/Events.scala): q188's range join with
    // recency weights 0.5^age, age in whole 1-day half-lives — integer
    // exponents keep the weight an exact power of two on both engines.
    "q269_timedecay_attribution" -> ((s, dir) =>
      graft.ops.Events.attributionTimeDecay(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        col("event_type") === "purchase",
        lookbackMillis = 3L * 86400000L, halfLifeMillis = 86400000L)),

    // Hill tail-index (ops/Profile.scala) of order totals: gamma over
    // the top-500 order statistics via TakeOrderedAndProject (no global
    // sort), log terms decimal-quantized.
    "q270_hill_tail" -> ((s, dir) =>
      graft.ops.Profile.hillTail(t(s, dir, "orders"), "o_totalprice",
        k = 500)),

    // Concentration (ops/Profile.scala): HHI + CR-4/CR-8 of supplier
    // revenue — one supplier aggregate, 1-row total broadcast back,
    // top-8 heap for the ratios.
    "q271_concentration" -> ((s, dir) =>
      graft.ops.Profile.concentration(t(s, dir, "lineitem"),
        "l_suppkey", "l_extendedprice")),

    // EWMA control chart (ops/Events.scala): per-event-type daily
    // counts on a 60-day zero-filled spine, λ=0.2, 3σ time-varying
    // limits — the whole recursion is one aggregate() fold per key.
    "q272_ewma_chart" -> ((s, dir) =>
      graft.ops.Events.ewmaChart(t(s, dir, "events"), "event_type",
        "ts", startDay = "2024-01-01", numDays = 60, lambda = 0.2,
        limitL = 3.0)),

    // AR(3) Yule-Walker fit (ops/Events.scala): Levinson-Durbin over
    // the 6-dp ACF grain per event type — the solve runs on the
    // series-count-bounded ACF frame, never on events.
    "q273_ar_fit" -> ((s, dir) =>
      graft.ops.Events.arFit(t(s, dir, "events"), "event_type", "ts",
        p = 3)),

    // ADF unit-root test (ops/Events.scala): daily 'view' counts,
    // constant + 2 augmentation lags through the olsFit Gram device;
    // the ADF stat is y_{t-1}'s t-ratio.
    "q274_adf_test" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "view" && col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.Events.adfTest(daily, "day", "n", lags = 2)
    }),

    // Granger causality (ops/Events.scala): does daily click volume
    // predict next days' purchase volume beyond purchases' own lags?
    // One Gram aggregation feeds BOTH nested models; F off the two RSS.
    "q275_granger" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull &&
          col("event_type").isin("purchase", "click"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchase"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_click"))
      graft.ops.Events.grangerTest(daily, "day", "n_purchase",
        "n_click", lags = 2)
    }),

    // Variance inflation factors (ops/Events.scala): collinearity
    // audit of three lineitem measures off the 6-dp correlation grain,
    // inverted with the shared pivotless elimination.
    "q276_vif" -> ((s, dir) =>
      graft.ops.Events.vif(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),

    // Multinomial naive Bayes (ops/Classify.scala): language-ID over
    // the documents table, trained and scored in-plan — smoothed
    // per-term logs regrouped so the unseen-term mass never joins.
    "q277_naive_bayes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Classify.naiveBayes(docs, docs, "lang", "text",
        "doc_id")
    }),

    // PMI collocations (ops/TextAnalysis.scala): top adjacent bigrams
    // by pointwise mutual information over the documents corpus —
    // adjacency on the raw stream, stopword/short/rare pairs cut after.
    "q278_collocations" -> ((s, dir) =>
      graft.ops.TextAnalysis.collocations(t(s, dir, "documents"),
        "text", minCount = 5L, topK = 50)),

    // Markov removal-effect attribution (ops/Events.scala): the
    // absorbing-chain counterfactual — credit = conversion probability
    // lost when all paths through a channel are cut; 40 quantized
    // chain steps on the collected (channels+2)² matrix.
    "q279_markov_attribution" -> ((s, dir) => {
      // the oracle unrolls one removal chain per channel, hardcoded —
      // guard that the dataset's non-conversion types still ARE that
      // set, so a testdata change desynchronizes loudly, not silently
      val got = t(s, dir, "events")
        .filter(col("event_type").isNotNull &&
          col("event_type") =!= "purchase")
        .select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq // |types|-bounded
      require(got == Seq("click", "error", "signup", "view"),
        s"q279 oracle channel set drifted: ${got.mkString(",")}")
      graft.ops.Events.markovAttribution(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        col("event_type") === "purchase")
    }),

    // Grid-bucketed DBSCAN (ops/Similarity.scala): density clustering
    // of the embedding cloud's first two dimensions — 3×3-cell
    // ε-neighbor join, core/border/noise roles, pointer-jumping CC.
    "q280_dbscan" -> ((s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("x"),
          element_at(col("embedding"), 2).cast("double").as("y"))
      graft.ops.Similarity.dbscan(pts, "vec_id", "x", "y",
        eps = 0.05, minPts = 5)
    }),

    // Gumbel block-maxima fit (ops/Profile.scala): daily maximum order
    // totals -> method-of-moments location/scale + 30/365-day return
    // levels; hillTail's "how bad can a day get" companion.
    "q281_gumbel" -> ((s, dir) =>
      graft.ops.Profile.gumbelFit(t(s, dir, "orders"),
        to_date(col("o_orderdate")), "o_totalprice")),

    // Cohort LTV curve (ops/Events.scala): weekly signup cohorts,
    // purchase value accumulated per week offset to the observed
    // horizon, cumulative LTV per user.
    "q282_cohort_ltv" -> ((s, dir) =>
      graft.ops.Events.cohortLtv(t(s, dir, "events"), "user_id", "ts",
        "value", col("event_type") === "purchase", maxWeeks = 12)),

    // Tabular CUSUM monitor (ops/Events.scala): per-event-type daily
    // counts, slack k=0.5σ, decision interval h=4σ — the
    // sustained-shift alarm beside q272's EWMA chart.
    "q283_cusum_monitor" -> ((s, dir) =>
      graft.ops.Events.cusumMonitor(t(s, dir, "events"), "event_type",
        "ts", startDay = "2024-01-01", numDays = 30, k = 0.5, h = 4.0)),

    // Empirical-Bayes rate shrinkage (ops/Profile.scala): per-user
    // purchase-per-event rates pulled toward the moment-matched Beta
    // prior — the thin-key CTR fix.
    "q284_eb_shrinkage" -> ((s, dir) =>
      graft.ops.Profile.ebShrinkRates(t(s, dir, "events"), "user_id",
        col("event_type") === "purchase")),

    // KPSS stationarity test (ops/Events.scala): q274's daily 'view'
    // series with the hypotheses flipped — stationary null, Bartlett
    // long-run variance at 2 lags.
    "q285_kpss" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "view" && col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.Events.kpssTest(daily, "day", "n", lags = 2)
    }),

    // Batch sessionization (ops/Events.scala): 30-minute gap sessions
    // over the event log — one user-keyed exchange carries the lag
    // window, the boundary count, and the per-session collapse.
    "q286_sessionize" -> ((s, dir) =>
      graft.ops.Events.sessionizeBatch(t(s, dir, "events"), "user_id",
        "ts", "event_id", gapMillis = 30L * 60000L)),

    // Two-proportion z-test (ops/Profile.scala): do urgent orders ship
    // late more often than low-priority ones? Pooled z + unpooled CI.
    "q287_two_proportion" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      graft.ops.Profile.twoProportionTest(orders, "o_orderpriority",
        col("o_orderstatus") === "F")
    }),

    // HBOS outliers (ops/Profile.scala): rare corners of the
    // (quantity, price, discount) space — per-feature histogram
    // densities, top-100 by summed negative log density. The id is the
    // unique line key (orderkey·10 + linenumber) so the top-k tiebreak
    // is total.
    "q288_hbos" -> ((s, dir) =>
      graft.ops.Profile.hbos(
        t(s, dir, "lineitem").withColumn("line_id",
          col("l_orderkey") * 10 + col("l_linenumber")),
        "line_id", Seq("l_quantity", "l_extendedprice", "l_discount"),
        bins = 20, topK = 100)),

    // Diebold-Mariano (ops/Events.scala): persistence vs 7-day-mean
    // forecasts of the daily view series — which one is significantly
    // more accurate, under a Bartlett long-run variance.
    "q289_dm_test" -> ((s, dir) => {
      val w = Window.orderBy(col("day"))
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "view" && col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
        .withColumn("e1", col("n") - lag(col("n"), 1).over(w))
        .withColumn("e2", col("n") -
          avg(col("n")).over(w.rowsBetween(-7, -1)))
        .filter(col("e1").isNotNull)
      graft.ops.Events.dmTest(daily, "day", "e1", "e2", lags = 2)
    }),

    // Cross-correlation (ops/Events.scala): daily click vs purchase
    // counts at lags -5..5 — the lead-lag scout before q275's Granger.
    "q290_ccf" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull &&
          col("event_type").isin("purchase", "click"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      graft.ops.Events.ccf(daily, "day", "x", "y", maxLag = 5)
    }),

    // Periodogram (ops/Events.scala): spectral power of the daily
    // event count at candidate periods 3/5/7/10/14 — the seasonLen
    // scout before q232's Holt-Winters.
    "q291_periodogram" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.Events.periodogram(daily, "day", "n",
        periods = Seq(3, 5, 7, 10, 14))
    }),

    // Event study (ops/Events.scala): per-event-type daily rate in the
    // 14 days before vs from Jan 16 — one conditional-sum aggregation.
    "q292_event_study" -> ((s, dir) =>
      graft.ops.Events.eventStudy(t(s, dir, "events"), "event_type",
        "ts", interventionDay = "2024-01-16", windowDays = 14)),

    // Retention half-life (ops/Events.scala): ln(retention) ~ offset
    // over the pooled cohort matrix cells through the olsFit Gram
    // device; half-life = ln2 / -slope.
    "q293_retention_halflife" -> ((s, dir) =>
      graft.ops.Events.retentionHalfLife(t(s, dir, "events"),
        "user_id", "ts")),

    // Chapman capture-recapture (ops/Profile.scala): total active
    // population from the week-1 and week-2 user samples.
    "q294_capture_recapture" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(to_date(col("ts"))
        .between("2024-01-01", "2024-01-07"))
      val b = ev.filter(to_date(col("ts"))
        .between("2024-01-08", "2024-01-14"))
      graft.ops.Profile.captureRecapture(a, b, "user_id")
    }),

    // Cox proportional hazards (ops/Events.scala): the q240/q251
    // subject frame's arm as a covariate — log hazard ratio of the B
    // arm by 6 Newton steps on the Breslow partial likelihood, every
    // risk-set sum a time-grain suffix window.
    "q295_cox_ph" -> ((s, dir) => {
      val arms = survivalArms(s, dir)
        .select(col("t"), col("e"),
          when(col("grp") === "B", 1.0).otherwise(0.0).as("treated"))
      graft.ops.Events.coxPh(arms, "t", "e", Seq("treated"), iters = 6)
    }),

    // Burstiness (ops/Events.scala): Fano factor of per-type daily
    // counts over the global span — zero-days enter the variance
    // analytically, no spine.
    "q296_burstiness" -> ((s, dir) =>
      graft.ops.Events.burstiness(t(s, dir, "events"), "event_type",
        "ts")),

    // Heaps'-law fit (ops/TextAnalysis.scala): vocabulary growth over
    // doc_id deciles via the first-occurrence device + exact decile
    // thresholds; log-log OLS beta/K.
    "q297_heaps_law" -> ((s, dir) =>
      graft.ops.TextAnalysis.heapsLaw(t(s, dir, "documents"),
        "doc_id", "text")),

    // AR(3) 3-step forecast (ops/Events.scala): q273's fit recursed
    // forward in deviation space from the last three observed days.
    "q298_ar_forecast" -> ((s, dir) =>
      graft.ops.Events.arForecast(t(s, dir, "events"), "event_type",
        "ts", p = 3, horizon = 3)),

    // Robust location card (ops/Profile.scala): mean vs 5%-trimmed vs
    // winsorized vs median/MAD of order totals — exact type-7
    // thresholds, decimal sums.
    "q299_robust_location" -> ((s, dir) =>
      graft.ops.Profile.robustLocation(t(s, dir, "orders"),
        "o_totalprice", trim = 0.05)),

    // PrefixSpan-lite frequent sequences (ops/Events.scala): gap-
    // allowed event-type subsequences supported by >= 120 of the 150
    // users, grown to length 3 by greedy-min-end rounds.
    "q300_frequent_sequences" -> ((s, dir) =>
      graft.ops.Events.frequentSequences(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        minSupport = 120L, maxLen = 3)),

    // Uplift T-learner (ops/Events.scala): per-arm Gram-solve outcome
    // models on the q244 treatment frame, engagement as covariate,
    // uplift read per active-days segment.
    "q301_uplift_tlearner" -> ((s, dir) => {
      val u = errTreatUsers(s, dir)
        .withColumn("segment",
          when(col("active_days") >= 28.0, "high").otherwise("low"))
      graft.ops.Events.upliftTLearner(u, "t", "y",
        Seq("engagement"), "segment")
    }),

    // Seasonal/trend strength (ops/Events.scala): Hyndman's F_trend /
    // F_seasonal over q254's decomposition — the forecastability
    // triage per event type.
    "q302_seasonal_strength" -> ((s, dir) =>
      graft.ops.Events.seasonalStrength(t(s, dir, "events"),
        "event_type", "ts")),

    // Binary-segmentation changepoints (ops/Events.scala): q197's
    // argmax-|CUSUM| split, then the same scan inside each half —
    // depth-2 offline changepoint tree per event type.
    "q303_binary_segmentation" -> ((s, dir) =>
      graft.ops.Events.binarySegmentation(t(s, dir, "events"),
        "event_type", "ts")),

    // Median regression (ops/Events.scala): pinball-IRLS quantile fit
    // of purchase value on engagement/active days — the robust
    // conditional-median face beside q257's Huber.
    "q304_quantile_reg" -> ((s, dir) =>
      graft.ops.Events.quantileFit(errTreatUsers(s, dir), "y",
        Seq("engagement", "active_days"), tau = 0.5, iters = 4)),

    // Bayesian probability-to-beat (ops/Profile.scala): md5-split
    // arms, conversion = a heavy purchaser (>= 14 purchase events —
    // every user buys at least once, so "any purchase" would saturate
    // both posteriors at 1), Beta posteriors on a 4000-point midpoint
    // grid — P(rate_B > rate_A) + the expected loss of each decision.
    "q305_prob_best" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "purchase", 1))
          .as("n_buy"))
        .withColumn("grp",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "A").otherwise("B"))
      graft.ops.Profile.probBest(u, "grp", col("n_buy") >= 14)
    }),

    // Restricted mean survival time (ops/Events.scala): area under
    // the q251 KM curves through hour 168 — expected time-to-purchase
    // within the first week, per arm; needs neither proportional
    // hazards nor a median crossing.
    "q306_rmst" -> ((s, dir) =>
      graft.ops.Events.rmst(survivalArms(s, dir), "grp", "t", "e",
        tauTime = 168.0)),

    // K-arm Bayesian probability-to-beat (ops/Profile.scala): the
    // q305 experiment split three ways (md5 first hex char thirds) —
    // per arm P(best) = ∫ pdf·∏ others' cdf and the expected loss of
    // shipping it, on the shared 4000-point normalized grid race.
    "q307_prob_best_multi" -> ((s, dir) => {
      val hx = substring(md5(col("user_id").cast("string")), 1, 1)
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "purchase", 1))
          .as("n_buy"))
        .withColumn("grp",
          when(hx < "6", "A").when(hx < "b", "B").otherwise("C"))
      graft.ops.Profile.probBestK(u, "grp", col("n_buy") >= 14)
    }),

    // Gap-constrained frequent sequences (ops/Events.scala): q300's
    // mining with consecutive matched items at most 2 events apart —
    // the "within a burst" form; all-feasible-ends state (min-end is
    // not exact under a gap), support = distinct users.
    "q311_sequences_gapped" -> ((s, dir) =>
      graft.ops.Events.frequentSequences(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        minSupport = 100L, maxLen = 3,
        maxGapEvents = Some(2L))),

    // Aalen-Johansen competing risks (ops/Events.scala): from signup,
    // the first-purchase vs first-error race per user — per-cause
    // cumulative incidence built on all-cause KM left-limits, per md5
    // arm; the q240/q251 family's answer to "which outcome wins".
    "q309_competing_risks" -> ((s, dir) =>
      graft.ops.Events.ajIncidence(competingArms(s, dir), "grp", "t",
        "cause")),

    // PLSA latent topics (ops/TextAnalysis.scala): unsupervised
    // doc-term decomposition of the documents corpus into 4 topics by
    // 3 deterministic EM steps — each topic's top-8 terms, the
    // "what is actually in this crawl" readout before mixture tuning.
    "q308_latent_topics" -> ((s, dir) =>
      graft.ops.TextAnalysis.latentTopics(t(s, dir, "documents"),
        "doc_id", "text", k = 4, iters = 3, vocabSize = 300,
        topTerms = 8)),

    // Per-doc topic mixture (ops/TextAnalysis.scala): the q308
    // factors read at document grain — P(topic|doc) per (doc, topic)
    // plus the argmax routing label a curation run stratifies on.
    "q312_topic_mixture" -> ((s, dir) =>
      graft.ops.TextAnalysis.latentTopicMixture(t(s, dir, "documents"),
        "doc_id", "text", k = 4, iters = 3, vocabSize = 300)),

    // Sequence rules (ops/Events.scala): q300's frequent patterns
    // read as "after ⟨antecedent⟩, X% do ⟨consequent⟩" — confidence
    // = support(pattern)/support(antecedent), cut at 0.5.
    "q313_sequence_rules" -> ((s, dir) =>
      graft.ops.Events.sequenceRules(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id",
        minSupport = 120L, maxLen = 3, minConfidence = 0.5)),

    // Restricted mean time lost (ops/Events.scala): the q309 AJ
    // curves integrated through hour 168 — expected hours lost to
    // first-purchase vs first-error within the week, per arm;
    // RMST + sum RMTL = tau by construction.
    "q314_rmtl" -> ((s, dir) =>
      graft.ops.Events.rmtl(competingArms(s, dir), "grp", "t",
        "cause", tauTime = 168.0)),

    // Item-item collaborative filtering (ops/Recommend.scala): per-part
    // top-5 co-purchase neighbor lists by cosine over the order-basket
    // co-occurrence matrix — the "customers who bought X also bought Y"
    // candidate generator beside q179's global rule dashboard.
    "q315_item_similarity" -> ((s, dir) =>
      graft.ops.Recommend.itemSimilarity(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2, topKPerItem = 5,
        maxBasketSize = 1000)),

    // AR(3) forecast intervals (ops/Events.scala): q298's point
    // forecasts made decision-grade — per-key in-sample one-step
    // residual quantiles (exact, distribution-free) widened by sqrt(h).
    "q319_ar_forecast_interval" -> ((s, dir) =>
      graft.ops.Events.arForecastInterval(t(s, dir, "events"),
        "event_type", "ts", p = 3, horizon = 3, ciAlpha = 0.05)),

    // Holt-Winters one-step interval (ops/Events.scala): q232's
    // next-day forecast banded by the backtest residuals' empirical
    // (2.5%, 97.5%) quantiles per key.
    "q321_hw_interval" -> ((s, dir) =>
      graft.ops.Events.holtWintersInterval(t(s, dir, "events"),
        "event_type", "ts", "2024-01-01", numDays = 28, seasonLen = 7,
        alpha = 0.4, beta = 0.1, gamma = 0.2, ciAlpha = 0.05)),

    // PPMI word embeddings (ops/TextAnalysis.scala): the deterministic
    // count-based path — top-300 vocab, symmetric adjacent
    // co-occurrence, positive-PMI cells, truncated Jacobi eigenbasis;
    // the readout is each top-frequency probe's exact-PPMI-cosine
    // top-5 recovered through the 64-dim embedding pool (the q91 ANN
    // recall convention — a pool miss hash-mismatches).
    "q318_ppmi_neighbors" -> ((s, dir) =>
      graft.ops.TextAnalysis.ppmiNeighbors(t(s, dir, "documents"),
        "text", nProbes = 3, topK = 5, vocabSize = 300, dim = 64)),

    // Stratified Cox PH (ops/Events.scala): q295's treated-arm hazard
    // ratio refit with per-stratum baseline hazards (second md5 hex
    // digit buckets as strata) — each stratum its own risk sets, one
    // pooled beta; the standard remedy once q310 flags a violation.
    "q317_cox_strata" -> ((s, dir) => {
      val arms = survivalArmsStrat(s, dir)
        .select(col("t"), col("e"), col("strat"),
          when(col("grp") === "B", 1.0).otherwise(0.0).as("treated"))
      graft.ops.Events.coxPhStratified(arms, "t", "e", Seq("treated"),
        "strat", iters = 6)
    }),

    // Kruskal-Wallis k-group rank test (ops/Profile.scala): does ANY
    // order priority shift the order-value distribution? q222's
    // prefix-sum rank device widened to all 5 groups; tie-corrected H,
    // chi-square(4) p via the closed-form tail ladder, rank-eta².
    "q316_kruskal_wallis" -> ((s, dir) =>
      graft.ops.Profile.kruskalWallis(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")),

    // Item-based top-N recommendations (ops/Recommend.scala): q315's
    // neighbor lists scored against each customer's purchase history
    // (Σ cosine over neighbor edges leaving their parts, already-bought
    // parts excluded) — the per-customer readout of the CF stack.
    "q320_recommend_items" -> ((s, dir) => {
      val sims = graft.ops.Recommend.itemSimilarity(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2, topKPerItem = 5,
        maxBasketSize = 1000)
      val hist = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      graft.ops.Recommend.recommendItems(hist, "cust", "part", sims,
        topN = 3)
    }),

    // Schoenfeld-style PH diagnostic (ops/Events.scala): q295's fit,
    // then its Schoenfeld residuals regressed on event rank — the
    // check that the hazard ratio is actually constant over time.
    "q310_cox_zph" -> ((s, dir) => {
      val arms = survivalArms(s, dir)
        .select(col("t"), col("e"),
          when(col("grp") === "B", 1.0).otherwise(0.0).as("treated"))
      graft.ops.Events.coxPhTest(arms, "t", "e", Seq("treated"),
        iters = 6)
    })
  )

  /** q309's per-subject competing-risks frame: md5 arms, hours from
    * first signup to the FIRST of {purchase, error} at or after it
    * (same-millisecond ties break to purchase — deterministic), null
    * cause = right-censored at the log's max timestamp. */
  private def competingArms(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id").as("u"),
        unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("event_type").as("et"))
    val anchors = ev.filter(col("et") === "signup")
      .groupBy(col("u")).agg(min(col("ms")).as("anchor"))
    val firsts = ev.filter(col("et").isin("purchase", "error"))
      .join(anchors, Seq("u"))
      .where(col("ms") >= col("anchor"))
      .groupBy(col("u"))
      .agg(min(when(col("et") === "purchase", col("ms"))).as("mp"),
        min(when(col("et") === "error", col("ms"))).as("me"))
    val end = ev.agg(max(col("ms")).as("fin"))
    val winsP = col("mp").isNotNull &&
      (col("me").isNull || col("mp") <= col("me"))
    val cause = when(winsP, "purchase")
      .when(col("me").isNotNull, "error")
    val evt = when(winsP, col("mp")).when(col("me").isNotNull, col("me"))
    anchors.join(firsts, Seq("u"), "left")
      .crossJoin(broadcast(end))
      .select(
        when(substring(md5(col("u").cast("string")), 1, 1) < "8", "A")
          .otherwise("B").as("grp"),
        floor((coalesce(evt, col("fin")) - col("anchor")) /
          lit(3600000.0)).cast("long").as("t"),
        cause.as("cause"))
  }

  /** q317's stratified subject frame: [[survivalArms]] plus a second-
    * md5-hex-digit stratum bucket (s0/s1) — deterministic, independent
    * of the arm split (which reads the FIRST digit). */
  private def survivalArmsStrat(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id").as("u"),
        unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("event_type").as("et"))
    val anchors = ev.filter(col("et") === "signup")
      .groupBy(col("u")).agg(min(col("ms")).as("anchor"))
    val firstEvt = ev.filter(col("et") === "purchase")
      .join(anchors, Seq("u"))
      .where(col("ms") >= col("anchor"))
      .groupBy(col("u")).agg(min(col("ms")).as("evt"))
    val end = ev.agg(max(col("ms")).as("fin"))
    anchors
      .join(firstEvt, Seq("u"), "left")
      .crossJoin(broadcast(end))
      .select(
        when(substring(md5(col("u").cast("string")), 1, 1) < "8", "A")
          .otherwise("B").as("grp"),
        when(substring(md5(col("u").cast("string")), 2, 1) < "8", "s0")
          .otherwise("s1").as("strat"),
        floor((coalesce(col("evt"), col("fin")) - col("anchor")) /
          lit(3600000.0)).cast("long").as("t"),
        when(col("evt").isNotNull, 1).otherwise(0).as("e"))
  }

  /** Shared q240/q251 per-subject frame: md5 arms, hours from first
    * signup to first at-or-after purchase, right-censored at the log's
    * max timestamp. */
  private def survivalArms(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id").as("u"),
        unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("event_type").as("et"))
    val anchors = ev.filter(col("et") === "signup")
      .groupBy(col("u")).agg(min(col("ms")).as("anchor"))
    val firstEvt = ev.filter(col("et") === "purchase")
      .join(anchors, Seq("u"))
      .where(col("ms") >= col("anchor"))
      .groupBy(col("u")).agg(min(col("ms")).as("evt"))
    val end = ev.agg(max(col("ms")).as("fin"))
    anchors
      .join(firstEvt, Seq("u"), "left")
      .crossJoin(broadcast(end))
      .select(
        when(substring(md5(col("u").cast("string")), 1, 1) < "8", "A")
          .otherwise("B").as("grp"),
        floor((coalesce(col("evt"), col("fin")) - col("anchor")) /
          lit(3600000.0)).cast("long").as("t"),
        when(col("evt").isNotNull, 1).otherwise(0).as("e"))
  }

  /** Shared q244/q245 per-user frame: treatment = ">= 14 error
    * events", outcome = decimal-exact purchase-value sum, covariates =
    * engagement (click+view count) and active days. */
  private def errTreatUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "error", 1)).as("n_err"),
        sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).cast("decimal(38,12)"))
          .cast("double").as("y"),
        count(when(col("event_type").isin("click", "view"), 1))
          .cast("double").as("engagement"),
        countDistinct(to_date(col("ts"))).cast("double")
          .as("active_days"))
      .select(when(col("n_err") >= 14, 1.0).otherwise(0.0).as("t"),
        col("y"), col("engagement"), col("active_days"))

  def oracleSql: Map[String, String] = Map(
    "q20_snapshot_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-09-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q21_audit_count" ->
      "SELECT count(*) AS num_source_records FROM lineitem WHERE l_quantity > 25",

    "q22_typed_preserve" ->
      """SELECT o_orderkey,
        |CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_dec,
        |date_trunc('day', o_orderdate) AS order_date, epoch_ms(o_orderdate) AS order_ts_ms
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q23_envelope_scalars" ->
      """SELECT event_id, 'appdb' || '.' || 'public' || '.' || 'events' AS key,
        |CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
        |  WHEN 'error' THEN 'd' ELSE 'r' END AS op,
        |epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "q24_cdc_apply" ->
      """WITH ch AS (
        |  SELECT (user_id + 1)::VARCHAR AS key,
        |    CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
        |      WHEN 'error' THEN 'd' ELSE 'r' END AS op,
        |    'user_' || user_id::VARCHAR AS name,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |latest AS (SELECT key, op, name FROM ch WHERE rn = 1),
        |base AS (SELECT c_custkey::VARCHAR AS id, c_name AS name FROM customer)
        |SELECT id, name FROM (
        |  SELECT id, name FROM base
        |    WHERE NOT EXISTS (SELECT 1 FROM latest WHERE key = id)
        |  UNION ALL
        |  SELECT key AS id, name FROM latest WHERE op <> 'd')
        |ORDER BY CAST(id AS BIGINT)""".stripMargin,

    "q70_scd2_history" ->
      """WITH ch AS (
        |  SELECT (user_id + 1)::VARCHAR AS id,
        |    CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
        |      WHEN 'error' THEN 'd' ELSE 'r' END AS op,
        |    'user_' || user_id::VARCHAR AS name,
        |    event_id AS valid_from,
        |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id, event_id) AS valid_to
        |  FROM events)
        |SELECT id, name, valid_from, valid_to, (valid_to IS NULL) AS is_current
        |FROM ch WHERE op <> 'd'
        |ORDER BY CAST(id AS BIGINT), valid_from""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q10_join_multi" ->
      """SELECT r_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q11_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q12_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q13_window_topk" ->
      """SELECT o_orderpriority, rn, o_orderkey, total_dec FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_dec,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,

    "q14_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q15_sort_limit" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec
        |FROM lineitem
        |ORDER BY price_dec DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q16_set_ops" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders
        |ORDER BY k""".stripMargin,

    "q17_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,

    "q18_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "q30_events_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q31_events_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "q32_events_sessionize" ->
      """SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id, CASE WHEN prev IS NULL
        |      OR (epoch_ms(ts) - epoch_ms(prev)) > 1800000 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q19_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    TIMESTAMP '1995-01-01' + INTERVAL (event_id % 2000) DAY AS cut_ts
        |  FROM events),
        |r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT ev.event_id, ev.user_id, r.o_orderkey, r.o_orderdate
        |FROM ev ASOF LEFT JOIN r
        |  ON ev.user_id = r.o_custkey AND ev.cut_ts >= r.o_orderdate
        |ORDER BY ev.event_id""".stripMargin,

    "q40_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q41_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
        |    / length(text)::DOUBLE, 4) AS punct_ratio,
        |  round(len(list_filter(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''),
        |      t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |        'that','for','on','with','as','was','at','by','be','this'], t)))::DOUBLE
        |    / len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''))::DOUBLE, 4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    // CASE models the kernel's short-doc fallback (one whole-array
    // shingle when fewer tokens than n) — same device as q43/q49.
    "q45_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents WHERE doc_id < 100))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.02
        |ORDER BY id_a, id_b""".stripMargin,

    // the full documentStats surface minus the graft-internal fingerprint:
    // stats + quality score + stopword-profile langId are deterministic
    // arithmetic. langId ties break like Spark's array_max over
    // struct(score, lang) — max score, then LARGEST lang string — hence
    // the descending-lang CASE (zh > fr > es > en > de).
    "q42_text_full" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks, len(toks) AS n_toks,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
        |        / length(text)::DOUBLE END AS punct_r,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to',
        |        'in','is','it','that','for','on','with','as','was','at','by','be','this'], x)))::DOUBLE
        |        / len(toks)::DOUBLE END AS stop_r,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)::DOUBLE END AS mean_len,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','was','for'], x)))::DOUBLE
        |        / len(toks)::DOUBLE END AS s_en,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','auf'], x)))::DOUBLE
        |        / len(toks)::DOUBLE END AS s_de,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> list_contains(['le','la','les','et','est','pas','pour','que','une','dans'], x)))::DOUBLE
        |        / len(toks)::DOUBLE END AS s_fr,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> list_contains(['el','la','los','y','es','no','por','que','una','en'], x)))::DOUBLE
        |        / len(toks)::DOUBLE END AS s_es,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> list_contains(['的','是','不','了','在','人','有','我','他','这'], x)))::DOUBLE
        |        / len(toks)::DOUBLE END AS s_zh
        |  FROM t)
        |SELECT doc_id,
        |  length(text) AS n_chars,
        |  n_toks::BIGINT AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe_tokens,
        |  round(punct_r, 4) AS punct_ratio,
        |  round(stop_r, 4) AS stopword_ratio,
        |  round(mean_len, 4) AS mean_token_len,
        |  round(least(n_toks::DOUBLE / 64.0, 1.0) * 0.4 +
        |    (CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2 +
        |    (CASE WHEN punct_r <= 0.2 THEN 1.0 ELSE 0.5 END) * 0.2 +
        |    (CASE WHEN stop_r BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.7 END) * 0.2, 5) AS quality,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0.0 THEN 'und'
        |    WHEN s_zh = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'zh'
        |    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
        |    WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
        |    WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
        |    ELSE 'de' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin,

    // exact near-dup pair set (same computation as q43's oracle) + the
    // in-plan SimHash recall bound, TRUE by construction at this scale.
    "q44_dedup_simhash" ->
      """WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) AS jaccard,
        |  TRUE AS simhash_recall_ok
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // q51's exact pair set + the in-plan LSH recall bound, TRUE by
    // construction at this scale.
    "q52_ann_neardup_lsh" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim,
        |  TRUE AS lsh_recall_ok
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 500 AND b.vec_id < 500
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // transitive closure of the exact near-dup pair graph via a recursive
    // CTE: reach(id, comp) accumulates every label reachable from id; the
    // component representative is the minimum.
    "q62_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5),
        |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT s, s FROM e
        |  UNION
        |  SELECT e.s, r.comp FROM e JOIN reach r ON e.d = r.id)
        |SELECT id AS doc_id, min(comp) AS cluster_id,
        |  (id = min(comp)) AS is_survivor
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q96_dedup_keep_best" ->
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM src),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5),
        |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT s, s FROM e
        |  UNION
        |  SELECT e.s, r.comp FROM e JOIN reach r ON e.d = r.id),
        |lab AS (SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id),
        |ranked AS (
        |  SELECT l.id, row_number() OVER (PARTITION BY l.cluster_id
        |    ORDER BY len(s.toks) DESC, l.id) AS rn
        |  FROM lab l JOIN src s ON s.doc_id = l.id),
        |losers AS (SELECT id FROM ranked WHERE rn > 1)
        |SELECT d.doc_id, len(s.toks)::BIGINT AS n_tokens
        |FROM documents d
        |JOIN src s USING (doc_id)
        |ANTI JOIN losers ON d.doc_id = losers.id
        |ORDER BY d.doc_id""".stripMargin,

    "q89_cluster_sizes" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5),
        |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT s, s FROM e
        |  UNION
        |  SELECT e.s, r.comp FROM e JOIN reach r ON e.d = r.id),
        |members AS (SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM members GROUP BY cluster_id)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  sum(cluster_size)::BIGINT AS n_docs
        |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // exact per-group and corpus distinct counts; the HLL union estimate
    // bound is TRUE by construction (deterministic sketch).
    "q65_hll_merge" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_parts,
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_total,
        |  TRUE AS hll_err_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // both engines build the same planted-PII text and run the same
    // RE2-subset regexes; DuckDB's regexp_replace needs the 'g' flag for
    // Spark's replace-all semantics.
    "q63_pii_redaction" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com at 10.0.' ||
        |      (doc_id % 256) || '.7 or 555-1' ||
        |      lpad((doc_id % 100)::VARCHAR, 2, '0') || '-4242' AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(planted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(planted, '\b(\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(planted, '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(planted,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean_text
        |FROM p ORDER BY doc_id""".stripMargin,

    // same five-line construction, then the duplicate-line removal:
    // corpus-frequent lines (count > 3) drop from every doc, survivors
    // reassemble in position order; fully-boilerplate docs come back as
    // empty strings.
    "q64_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |relined AS (
        |  -- coalesce: array_to_string of an empty slice is NULL here but
        |  -- Spark's concat_ws is '' — and a NULL line would poison NOT IN
        |  SELECT doc_id, [coalesce(array_to_string(toks[1:8], ' '), ''),
        |    coalesce(array_to_string(toks[9:16], ' '), ''),
        |    coalesce(array_to_string(toks[17:24], ' '), ''),
        |    coalesce(array_to_string(toks[25:32], ' '), ''),
        |    coalesce(array_to_string(toks[33:40], ' '), '')] AS lines
        |  FROM t),
        |l AS (
        |  SELECT doc_id, u.line AS line, u.pos AS pos FROM (
        |    SELECT doc_id,
        |      unnest([{'line': lines[i], 'pos': i} FOR i IN range(1, len(lines) + 1)]) AS u
        |    FROM relined)),
        |boiler AS (SELECT line FROM l GROUP BY line HAVING count(*) > 3),
        |kept AS (SELECT l.* FROM l ANTI JOIN boiler USING (line)),
        |agg AS (
        |  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text,
        |    count(*) AS n_lines_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // constant-amplitude PCM windows: RMS feature w == amplitude ==
    // ((doc_id*31 + w)*7 mod 256)/256 exactly (dyadic — the double/float
    // round trip through the decoder is lossless); 44-byte RIFF header +
    // 2 bytes/sample * 400 samples.
    "q60_multimodal_features" ->
      """SELECT doc_id, 'audio/wav' AS format, 8000 AS sample_rate, 1 AS channels,
        |  400 AS n_frames, 844::BIGINT AS size_bytes,
        |  round(CAST(((doc_id*31 + 0) * 7 % 256) / 256.0 AS FLOAT4)::DOUBLE, 6) AS f0,
        |  round(CAST(((doc_id*31 + 7) * 7 % 256) / 256.0 AS FLOAT4)::DOUBLE, 6) AS f7,
        |  round(CAST(((doc_id*31 + 15) * 7 % 256) / 256.0 AS FLOAT4)::DOUBLE, 6) AS f15
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the patternMp4 arithmetic: codec cycles by id mod 3, dims step in
    // 16-px increments, duration steps in 500 ms at 24 fps — the parser
    // must recover each field from the real box bytes.
    "q92_video_metadata" ->
      """SELECT doc_id, 'isom' AS brand,
        |  CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1' ELSE 'vp09' END AS codec,
        |  (160 + (doc_id % 8) * 16)::INT AS width,
        |  (96 + (doc_id % 5) * 16)::INT AS height,
        |  ((1000 + (doc_id % 10) * 500) * 24 / 1000)::INT AS n_frames,
        |  (1000 + (doc_id % 10) * 500)::BIGINT AS duration_ms,
        |  1 AS n_tracks
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q48_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents) WHERE rn <= 30
        |ORDER BY doc_id""".stripMargin,

    "q49_top_ngrams" ->
      """WITH g AS (
        |  SELECT unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
        |    END) AS ngram
        |  FROM (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents))
        |SELECT ngram, count(*) AS n FROM g
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    "q47_curation" ->
      """WITH f AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) BETWEEN 20 AND 5000
        |    AND (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
        |      / length(text)::DOUBLE <= 0.2),
        |d AS (SELECT doc_id, text,
        |        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM f)
        |SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''))::BIGINT AS n_tokens
        |FROM d WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q50_ann_topk" ->
      """SELECT a.vec_id,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "q68_semantic_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500),
        |cents AS (
        |  SELECT j, list_transform(range(64),
        |    i -> CASE WHEN i % 8 = j THEN 1.0 ELSE 0.0 END) AS c
        |  FROM range(8) t(j)),
        |scored AS (
        |  SELECT e.vec_id, e.v, c.j, list_cosine_similarity(e.v, c.c) AS cs
        |  FROM e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, v, j AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, j) AS rn
        |    FROM scored) WHERE rn = 1)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q51_ann_neardup_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 500 AND b.vec_id < 500
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // exact all-pairs word-trigram jaccard — the LSH pipeline's output
    // equals this when recall holds (see the q43 query comment). The CASE
    // models the kernel's short-doc fallback (fewer tokens than n -> ONE
    // whole-array shingle), same as the q49 oracle — without it, two
    // identical sub-3-token docs would pair in Spark but not here.
    "q43_dedup_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q61_sequence_packing" ->
      """SELECT doc_id, n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS pack_id
        |FROM (SELECT doc_id,
        |        len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''))::BIGINT AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q59_multimodal_decode" ->
      """SELECT doc_id, 'image/bmp' AS format, 4 AS width, 4 AS height,
        |  round(CAST((0.299*v0 + 0.587*v0 + 0.114*v0) / 255.0 AS FLOAT4)::DOUBLE, 4) AS f0,
        |  round(CAST((0.299*v5 + 0.587*v5 + 0.114*v5) / 255.0 AS FLOAT4)::DOUBLE, 4) AS f5,
        |  round(CAST((0.299*v15 + 0.587*v15 + 0.114*v15) / 255.0 AS FLOAT4)::DOUBLE, 4) AS f15
        |FROM (SELECT doc_id,
        |        CAST((doc_id*31 + 0) * 7 % 256 AS DOUBLE) AS v0,
        |        CAST((doc_id*31 + 5) * 7 % 256 AS DOUBLE) AS v5,
        |        CAST((doc_id*31 + 15) * 7 % 256 AS DOUBLE) AS v15
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q58_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  (len(toks) - 1)::BIGINT AS n_bigrams,
        |  CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        |    round(1.0 - len(list_distinct([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]))::DOUBLE
        |      / (len(toks) - 1)::DOUBLE, 4) END AS dup_bigram_ratio
        |FROM t ORDER BY doc_id""".stripMargin,

    "q57_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(toks)::BIGINT AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      length(regexp_replace(text, '[^\p{L}]', '', 'g'))::DOUBLE / len(toks)::DOUBLE
        |    END AS mean_word_len_raw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      ((length(text) - length(replace(text, '#', ''))) +
        |       (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(toks)::DOUBLE
        |    END AS symbol_word_ratio_raw,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      len(list_filter(toks, x -> regexp_matches(x, '\p{L}')))::DOUBLE / len(toks)::DOUBLE
        |    END AS alpha_word_ratio_raw,
        |    len(list_intersect(toks,
        |      ['the','be','to','of','and','that','have','with']))::BIGINT AS stopword_types
        |  FROM t)
        |SELECT doc_id, n_words,
        |  round(mean_word_len_raw, 4) AS mean_word_len,
        |  round(symbol_word_ratio_raw, 4) AS symbol_word_ratio,
        |  round(alpha_word_ratio_raw, 4) AS alpha_word_ratio,
        |  stopword_types,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len_raw BETWEEN 3.0 AND 10.0
        |   AND symbol_word_ratio_raw <= 0.1 AND alpha_word_ratio_raw >= 0.8
        |   AND stopword_types >= 2) AS passes_gopher
        |FROM s ORDER BY doc_id""".stripMargin,

    "q55_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct([
        |    array_to_string(toks[i:i+7], ' ') FOR i IN range(1, len(toks) - 6)
        |  ])) AS g
        |  FROM toks WHERE len(toks) >= 8),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
        |SELECT t.doc_id, count(*) AS n_shared
        |FROM grams t JOIN bench b ON t.g = b.g
        |WHERE t.doc_id % 10 <> 0
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "q69_domain_mixture" ->
      """WITH toks AS (
        |  SELECT lang, len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS n
        |  FROM documents),
        |dom AS (SELECT lang, sum(n)::BIGINT AS n_tokens FROM toks GROUP BY lang),
        |tot AS (SELECT sum(pow(n_tokens, 0.7)) AS z FROM dom)
        |SELECT lang, n_tokens,
        |  round(pow(n_tokens, 0.7) / z, 6) AS weight,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |    ELSE round(1000000 * pow(n_tokens, 0.7) / z / n_tokens, 6) END AS epochs
        |FROM dom CROSS JOIN tot ORDER BY lang""".stripMargin,

    "q67_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, is_target, unnest(toks) AS w FROM toks),
        |docw AS (
        |  SELECT doc_id, is_target, w, count(*) AS c
        |  FROM words GROUP BY ALL),
        |vocab AS (
        |  SELECT w, sum(c) AS n_raw,
        |    sum(CASE WHEN is_target THEN c ELSE 0 END) AS n_tgt
        |  FROM docw GROUP BY w),
        |tot AS (
        |  SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt, count(*) AS v
        |  FROM vocab)
        |SELECT d.doc_id,
        |  round(sum(d.c * (ln((vb.n_tgt + 1)::DOUBLE / (t.tot_tgt + t.v)) -
        |    ln((vb.n_raw + 1)::DOUBLE / (t.tot_raw + t.v)))), 6) AS dsir_score,
        |  sum(d.c)::BIGINT AS n_tokens
        |FROM docw d JOIN vocab vb USING (w) CROSS JOIN tot t
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "q66_dup_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct([
        |    array_to_string(toks[i:i+7], ' ') FOR i IN range(1, len(toks) - 6)
        |  ])) AS g
        |  FROM toks WHERE len(toks) >= 8),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1)
        |SELECT gr.doc_id, count(*) AS n_grams, count(d.g) AS n_dup_grams,
        |  round(count(d.g)::DOUBLE / count(*), 6) AS dup_frac
        |FROM grams gr LEFT JOIN dup d ON gr.g = d.g
        |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin,

    "q56_hash_split" ->
      """SELECT doc_id, CASE
        |  WHEN substring(md5(doc_id::VARCHAR), 1, 8) < 'cccccccc' THEN 'train'
        |  WHEN substring(md5(doc_id::VARCHAR), 1, 8) < 'e6666666' THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q46_approx" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |  TRUE AS parts_err_ok, TRUE AS orders_err_ok,
        |  TRUE AS p50_err_ok, TRUE AS p99_err_ok
        |FROM lineitem""".stripMargin,

    "q53_ann_ivf" ->
      """SELECT a.vec_id,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim,
        |  TRUE AS ivf_recall_ok
        |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "q95_text_clean" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    substr('aeiouabcde', (doc_id % 10 + 1)::INT, 1) || chr(769) || chr(7) || '  ' || text AS t
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(t), '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text,
        |  length(trim(regexp_replace(regexp_replace(nfc_normalize(t), '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g')))::BIGINT AS n_chars_clean
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q94_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 0 THEN 0
        |         ELSE 1 + greatest(0, ceil((len(toks) - 32)::DOUBLE / 24))::BIGINT END AS nc
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, nc)) AS chunk_id, toks, n
        |  FROM c WHERE nc > 0)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |  len(toks[chunk_id*24+1 : least(chunk_id*24+32, n)])::BIGINT AS n_tokens,
        |  array_to_string(toks[chunk_id*24+1 : least(chunk_id*24+32, n)], ' ') AS chunk_text
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,

    "q93_ivf_knn_join" ->
      """SELECT qid, rank, eid, sim, TRUE AS ivf_recall_ok FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS eid,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC, b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 150)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q97_pq_knn_join" ->
      """SELECT qid, rank, eid, sim, TRUE AS pq_recall_ok FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS eid,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC, b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 150)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q91_ann_ivfpq" ->
      """SELECT a.vec_id,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim,
        |  TRUE AS pq_recall_ok
        |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "q54_knn_join" ->
      """SELECT qid, rank, eid, sim, TRUE AS lsh_recall_ok FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS eid,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC, b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 150)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q71_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('customer', 'vector', 'spark', 'query')
        |       GROUP BY doc_id, w),
        |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
        |SELECT doc_id,
        |  round(sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf /
        |    (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25,
        |  count(*) AS n_terms_hit
        |FROM tf JOIN dfx USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "q72_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS w
        |  FROM documents),
        |vocab AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
        |pairs AS (
        |  SELECT freq, unnest([substring(w, i, 2) FOR i IN range(1, len(w))]) AS pair
        |  FROM vocab WHERE len(w) >= 2)
        |SELECT pair, sum(freq)::BIGINT AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q73_unigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |docw AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
        |vocab AS (SELECT w, sum(c) AS n FROM docw GROUP BY w),
        |tot AS (SELECT sum(n) AS tot, count(*) AS v FROM vocab)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |  round(-sum(c * ln((vb.n + 1)::DOUBLE / (t.tot + t.v))) / sum(c), 6) AS nll
        |FROM docw JOIN vocab vb USING (w) CROSS JOIN tot t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q74_data_card" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')))::BIGINT AS n_tokens,
        |  round(sum(n_chars)::DOUBLE / count(*), 6) AS mean_len,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_len,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q75_bloom_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest([array_to_string(toks[i:i+5], ' ') FOR i IN range(1, len(toks) - 4)]) AS g
        |  FROM toks WHERE doc_id % 10 = 0 AND len(toks) >= 6),
        |train AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+5], ' ') FOR i IN range(1, len(toks) - 4)])) AS g
        |  FROM toks WHERE doc_id % 10 <> 0 AND len(toks) >= 6)
        |SELECT doc_id, count(*) AS n_shared
        |FROM train JOIN bench USING (g)
        |GROUP BY doc_id HAVING count(*) >= 2 ORDER BY doc_id""".stripMargin,

    // dHash bit (y,x) compares horizontally-adjacent 4x4 grid cells; with
    // one pattern pixel per cell the luminance ORDER is the pixel-value
    // order, so the oracle reproduces each bit by integer arithmetic.
    "q76_phash_dedup" -> {
      val bitTerms = (for { y <- 0 until 4; x <- 0 until 3 } yield {
        val c = y * 4 + x
        s"(CASE WHEN ((doc_id*31 + ${c + 1})*7) % 256 > ((doc_id*31 + $c)*7) % 256 THEN ${1L << (y * 3 + x)} ELSE 0 END)"
      }).mkString(" + ")
      s"""WITH h AS (SELECT doc_id, ($bitTerms)::BIGINT AS phash FROM documents)
         |SELECT doc_id, phash,
         |  min(doc_id) OVER (PARTITION BY phash) AS rep_id,
         |  doc_id <> min(doc_id) OVER (PARTITION BY phash) AS is_dup
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "q77_bigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |vocab AS (SELECT w, count(*) AS n FROM words GROUP BY w),
        |tot AS (SELECT sum(n) AS tot, count(*) AS v FROM vocab),
        |bi AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM toks WHERE len(toks) >= 2),
        |docbi AS (SELECT doc_id, w1, w2, count(*) AS c FROM bi GROUP BY doc_id, w1, w2),
        |bm AS (SELECT w1, w2, sum(c) AS cb FROM docbi GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(cb) AS cw FROM bm GROUP BY w1)
        |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |  round(-sum(c * ln(0.8 * (cb::DOUBLE / cw) + 0.2 * ((n + 1)::DOUBLE / (t.tot + t.v)))) / sum(c), 6) AS nll
        |FROM docbi
        |JOIN bm USING (w1, w2) JOIN ctx USING (w1)
        |JOIN vocab vb ON vb.w = docbi.w2 CROSS JOIN tot t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q78_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |docw AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
        |vocab AS (
        |  SELECT w FROM (SELECT w, sum(c) AS n FROM docw GROUP BY w
        |                 ORDER BY n DESC, w LIMIT 1000))
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |  sum(CASE WHEN v.w IS NULL THEN c ELSE 0 END)::BIGINT AS n_oov,
        |  round(sum(CASE WHEN v.w IS NULL THEN c ELSE 0 END)::DOUBLE / sum(c), 6) AS oov_rate
        |FROM docw LEFT JOIN vocab v ON v.w = docw.w
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q79_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(toks) AS term FROM toks),
        |docw AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM docw GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rank, term, tfidf FROM (
        |  SELECT doc_id, term,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1.0) DESC, term) AS rank,
        |    round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1.0), 6) AS tfidf
        |  FROM docw JOIN dfreq USING (term) CROSS JOIN n)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q80_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 6)) AS i, toks
        |  FROM toks WHERE len(toks) >= 8),
        |grams AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS g FROM pos),
        |rep AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        |cov AS (SELECT doc_id, i - 1 AS p FROM grams JOIN rep USING (g)),
        |flagged AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 7 THEN 1 ELSE 0 END AS f
        |  FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |spans AS (
        |  SELECT doc_id, span, min(p) AS p1, max(p) AS p2 FROM (
        |    SELECT doc_id, p, sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS span
        |    FROM flagged)
        |  GROUP BY doc_id, span),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_spans, sum(p2 - p1 + 8) AS covered
        |  FROM spans GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
        |  coalesce(p.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(p.covered, 0)::BIGINT AS covered_tokens,
        |  CASE WHEN len(t.toks) = 0 THEN 0.0
        |       ELSE round(coalesce(p.covered, 0)::DOUBLE / len(t.toks), 6) END AS dup_span_frac
        |FROM toks t LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q81_source_kl" ->
      """WITH toks AS (
        |  SELECT source, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (SELECT source, unnest(toks) AS w FROM toks),
        |gw AS (SELECT source, w, count(*) AS c FROM words GROUP BY source, w),
        |corpus AS (SELECT w, sum(c) AS cw FROM gw GROUP BY w),
        |totals AS (SELECT source, sum(c) AS tot_g FROM gw GROUP BY source),
        |grand AS (SELECT sum(cw) AS tot FROM corpus)
        |SELECT source, sum(c)::BIGINT AS n_tokens,
        |  round(sum((c::DOUBLE / tot_g) * ln((c::DOUBLE / tot_g) / (cw::DOUBLE / tot))), 6) AS kl
        |FROM gw JOIN corpus USING (w) JOIN totals USING (source) CROSS JOIN grand
        |GROUP BY source ORDER BY source""".stripMargin,

    "q82_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 6)) AS i, toks
        |  FROM toks WHERE len(toks) >= 8),
        |grams AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS g FROM pos),
        |rep AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
        |cov AS (SELECT doc_id, i - 1 AS p FROM grams JOIN rep USING (g)),
        |flagged AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 7 THEN 1 ELSE 0 END AS f
        |  FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |spans AS (
        |  SELECT doc_id, span, min(p) AS p1, max(p) AS p2 FROM (
        |    SELECT doc_id, p, sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS span
        |    FROM flagged)
        |  GROUP BY doc_id, span),
        |covered AS (SELECT doc_id, unnest(range(p1, p2 + 8)) AS cp FROM spans),
        |toktbl AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS ti, toks FROM toks),
        |tokens AS (SELECT doc_id, ti, toks[ti] AS tok FROM toktbl),
        |kept AS (
        |  SELECT t.doc_id, t.ti, t.tok FROM tokens t
        |  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.cp = t.ti - 1
        |  WHERE c.cp IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |cv AS (SELECT doc_id, sum(p2 - p1 + 8) AS covered FROM spans GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
        |  (len(t.toks) - coalesce(cv.covered, 0))::BIGINT AS kept_tokens,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM toks t LEFT JOIN agg a USING (doc_id) LEFT JOIN cv USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q83_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |docw AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
        |vocab AS (SELECT w, sum(c) AS n FROM docw GROUP BY w),
        |tot AS (SELECT sum(n) AS tot, count(*) AS v FROM vocab),
        |scored AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |    round(-sum(c * ln((vb.n + 1)::DOUBLE / (t.tot + t.v))) / sum(c), 6) AS nll
        |  FROM docw JOIN vocab vb USING (w) CROSS JOIN tot t
        |  GROUP BY doc_id),
        |cuts AS (SELECT quantile_cont(nll, 0.25) AS q25, quantile_cont(nll, 0.75) AS q75 FROM scored)
        |SELECT doc_id, n_tokens, nll,
        |  CASE WHEN nll <= q25 THEN 'head' WHEN nll > q75 THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    "q84_incremental_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents))
        |SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id % 10 < 2 AND b.doc_id % 10 >= 2
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |    len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5
        |ORDER BY new_id, ref_id""".stripMargin,

    "q85_hard_negatives" ->
      """SELECT qid, rank, eid, sim, neg_label FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS eid, b.label AS neg_label,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC,
        |        b.vec_id) AS rank
        |  FROM embeddings a
        |  JOIN embeddings b ON a.label <> b.label
        |  WHERE a.vec_id < 50)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q98_hard_negatives_lsh" ->
      """SELECT qid, rank, eid, sim, neg_label, TRUE AS lsh_recall_ok FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS eid, b.label AS neg_label,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC,
        |        b.vec_id) AS rank
        |  FROM embeddings a
        |  JOIN embeddings b ON a.label <> b.label
        |  WHERE a.vec_id < 50)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q99_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, list_filter(range(1, len(toks)), i -> toks[i] = 'table' AND toks[i+1] = 'scan') AS ms
        |  FROM t)
        |SELECT doc_id, len(ms)::BIGINT AS n_hits, (ms[1] - 1)::BIGINT AS first_pos
        |FROM m WHERE len(ms) > 0 ORDER BY doc_id""".stripMargin,

    "q100_jaccard_join" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks)-3)]) AS sh
        |  FROM t WHERE len(toks) >= 5),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM p
        |WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "q101_proximity_search" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    list_filter(range(1, len(toks)+1), i ->
        |      (toks[i] = 'hash' OR toks[i] = 'join') AND
        |      len(list_filter(range(i, i+4), j -> toks[j] = 'hash')) > 0 AND
        |      len(list_filter(range(i, i+4), j -> toks[j] = 'join')) > 0) AS ms
        |  FROM t)
        |SELECT doc_id, (ms[1] - 1)::BIGINT AS span_start FROM m
        |WHERE len(ms) > 0 ORDER BY doc_id""".stripMargin,

    "q102_heavy_hitters" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT unnest(toks) AS w FROM t),
        |g AS (SELECT w, count(*)::BIGINT AS cnt FROM c GROUP BY w)
        |SELECT w, cnt, TRUE AS mg_bound_ok FROM g
        |ORDER BY cnt DESC, w LIMIT 8""".stripMargin,

    "q103_bm25_index" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('window', 'stream', 'batch')
        |       GROUP BY doc_id, w),
        |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
        |SELECT doc_id,
        |  round(sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf /
        |    (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25,
        |  count(*) AS n_terms_hit
        |FROM tf JOIN dfx USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "q104_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    round(pow((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE / 4294967296.0,
        |      1.0 / n_chars), 9) AS sample_key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, sample_key FROM s
        |ORDER BY sample_key DESC, doc_id LIMIT 20""".stripMargin,

    "q105_range_join" ->
      """WITH iv AS (
        |  SELECT event_id AS iv_id, epoch_us(ts) AS win_s,
        |    epoch_us(ts) + 900000000 AS win_e
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_type AS event_type, count(*) AS n_matches,
        |  count(DISTINCT iv.iv_id) AS n_windows
        |FROM iv JOIN events p
        |  ON p.event_type <> 'purchase'
        | AND epoch_us(p.ts) BETWEEN iv.win_s AND iv.win_e
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q106_cms_counts" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT unnest(toks) AS w FROM t),
        |g AS (SELECT w, count(*)::BIGINT AS cnt FROM c GROUP BY w),
        |probes AS (
        |  (SELECT w, cnt FROM g ORDER BY cnt DESC, w LIMIT 4)
        |  UNION ALL
        |  (SELECT w, cnt FROM g ORDER BY cnt ASC, w LIMIT 4))
        |SELECT w, cnt, TRUE AS cms_bound_ok FROM probes
        |ORDER BY cnt DESC, w""".stripMargin,

    "q107_ann_sq8" ->
      """SELECT a.vec_id,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "q108_index_merge" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' refreshed corpus entry'
        |         ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM corpus),
        |c AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |g AS (SELECT w AS term, doc_id, count(*)::BIGINT AS tf FROM c GROUP BY 1, 2)
        |SELECT term, count(*) AS df, sum(tf)::BIGINT AS tf_total
        |FROM g WHERE term IN ('refreshed', 'window', 'stream', 'batch')
        |GROUP BY term ORDER BY term""".stripMargin,

    "q109_interval_overlap" ->
      """WITH a AS (
        |  SELECT event_id AS a_id, epoch_us(ts) AS a_s,
        |    epoch_us(ts) + 900000000 AS a_e
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT event_id AS b_id, epoch_us(ts) AS b_s,
        |    epoch_us(ts) + 900000000 AS b_e
        |  FROM events WHERE event_type = 'error')
        |SELECT count(*) AS n_pairs, count(DISTINCT a_id) AS n_purchase,
        |  count(DISTINCT b_id) AS n_error
        |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e""".stripMargin,

    "q110_c4_rules" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dec0 AS (
        |  SELECT doc_id, CASE WHEN len(toks) = 0 THEN '' ELSE
        |    array_to_string([array_to_string(toks[i*8+1:i*8+8], ' ') ||
        |      CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
        |      FOR i IN range(0, CAST(ceil(len(toks) / 8.0) AS INT))], chr(10))
        |    END AS t FROM toks),
        |dec1 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
        |    THEN t || chr(10) || '{ code }' ELSE t END AS t FROM dec0),
        |dec AS (SELECT doc_id, CASE WHEN doc_id % 23 = 0
        |    THEN 'lorem ipsum' || chr(10) || t ELSE t END AS t FROM dec1),
        |kept AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS ls,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(l, '[.!?"'']$')
        |      AND len(string_split_regex(trim(l), '\s+')) >= 5) AS ks
        |  FROM dec),
        |stats AS (
        |  SELECT doc_id, len(ls)::BIGINT AS n_lines, len(ks)::BIGINT AS n_kept_lines,
        |    coalesce(len(list_filter(
        |      string_split_regex(coalesce(array_to_string(ks, chr(10)), ''), '[.!?]'),
        |      s -> trim(s) <> '')), 0)::BIGINT AS n_sentences,
        |    contains(t, '{') AS has_brace,
        |    contains(lower(t), 'lorem ipsum') AS has_lorem
        |  FROM kept)
        |SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_brace, has_lorem,
        |  (n_sentences >= 3 AND NOT has_brace AND NOT has_lorem) AS passes_c4
        |FROM stats ORDER BY doc_id""".stripMargin,

    "q111_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('customer', 'vector', 'spark', 'query')
        |       GROUP BY doc_id, w),
        |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |bm AS (
        |  SELECT doc_id,
        |    round(sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf /
        |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        |  FROM tf JOIN dfx USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
        |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |joined AS (
        |  SELECT bm.doc_id, bm.bm25,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
        |  FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id,
        |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
        |n AS (
        |  SELECT doc_id, bm25, cosine,
        |    round(bm25 / max(bm25) OVER (), 6) AS bm25_norm
        |  FROM joined)
        |SELECT doc_id, bm25, cosine,
        |  round(0.5 * bm25_norm + 0.5 * cosine, 6) AS score
        |FROM n ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q112_kll_quantiles" ->
      """WITH ex AS (
        |  SELECT quantile_cont(l_extendedprice::DOUBLE,
        |    [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS arr
        |  FROM lineitem),
        |flat AS (
        |  SELECT generate_subscripts(arr, 1) AS i, unnest(arr) AS v FROM ex),
        |qs AS (
        |  SELECT generate_subscripts(l, 1) AS i, unnest(l) AS q
        |  FROM (SELECT [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99] AS l))
        |SELECT qs.q AS q, round(flat.v, 4) AS exact_q, TRUE AS kll_ok
        |FROM qs JOIN flat USING (i) ORDER BY q""".stripMargin,

    "q113_ranking_metrics" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (
        |  SELECT vec_id AS cid, embedding AS cvec, label AS clabel
        |  FROM embeddings WHERE vec_id < 400),
        |pairs AS (
        |  SELECT qid, cid,
        |    round(list_cosine_similarity(cvec::DOUBLE[], qvec::DOUBLE[]), 6) AS score,
        |    (clabel = qlabel)::INT AS rel
        |  FROM c, q WHERE cid <> qid),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
        |  FROM pairs),
        |perq AS (
        |  SELECT qid,
        |    sum(rel)::BIGINT AS n_rel,
        |    sum(CASE WHEN rnk <= 10 THEN rel ELSE 0 END)::DOUBLE AS rel_at_k,
        |    min(CASE WHEN rnk <= 10 AND rel > 0 THEN rnk END) AS first_rel,
        |    sum(CASE WHEN rnk <= 10 THEN rel / log2(rnk + 1) ELSE 0 END) AS dcg
        |  FROM ranked GROUP BY qid),
        |idcg AS (
        |  SELECT m, list_sum([1.0 / log2(i + 1) FOR i IN range(1, m + 1)]) AS idcg
        |  FROM (SELECT unnest(range(1, 11)) AS m))
        |SELECT p.qid AS qid, p.n_rel AS n_rel,
        |  round(CASE WHEN n_rel > 0 THEN rel_at_k / n_rel ELSE 0 END, 6) AS recall_at_10,
        |  round(coalesce(1.0 / first_rel, 0), 6) AS mrr_at_10,
        |  round(CASE WHEN n_rel > 0 THEN dcg / i.idcg ELSE 0 END, 6) AS ndcg_at_10
        |FROM perq p LEFT JOIN idcg i ON i.m = least(10, p.n_rel)
        |ORDER BY qid""".stripMargin,

    "q114_wordpiece_ids" -> {
      // vocab rows (id, core, is-continuation); [UNK] (id 0) is the
      // sentinel, never a matchable piece
      val rows = wordpieceVocab.zipWithIndex.collect {
        case (p, i) if i > 0 =>
          val cont = p.startsWith("##")
          val core = if (cont) p.substring(2) else p
          s"($i, '$core', ${if (cont) "TRUE" else "FALSE"})"
      }.mkString(", ")
      s"""WITH RECURSIVE vocab(id, core, cont) AS (VALUES $rows),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |words AS (SELECT DISTINCT unnest(toks) AS w FROM toks),
         |pos AS (SELECT w, unnest(range(0, len(w))) AS pos FROM words),
         |cand AS (
         |  SELECT p.w, p.pos, v.id, len(v.core) AS l,
         |    row_number() OVER (PARTITION BY p.w, p.pos
         |      ORDER BY len(v.core) DESC, v.id) AS rn
         |  FROM pos p JOIN vocab v
         |    ON v.cont = (p.pos > 0)
         |    AND substr(p.w, p.pos + 1, len(v.core)) = v.core),
         |best AS (SELECT w, pos, id, l FROM cand WHERE rn = 1),
         |walk AS (
         |  SELECT w, 0 AS pos, CAST([] AS BIGINT[]) AS ids FROM words
         |  UNION ALL
         |  SELECT walk.w, walk.pos + b.l AS pos,
         |    list_append(walk.ids, b.id::BIGINT) AS ids
         |  FROM walk JOIN best b ON b.w = walk.w AND b.pos = walk.pos
         |  WHERE walk.pos < len(walk.w)),
         |enc AS (
         |  SELECT words.w,
         |    CASE WHEN d.ids IS NULL THEN CAST([0] AS BIGINT[]) ELSE d.ids END AS ids
         |  FROM words LEFT JOIN
         |    (SELECT w, ids FROM walk WHERE pos = len(w)) d USING (w)),
         |docseq AS (
         |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS w
         |  FROM toks),
         |flat AS (
         |  SELECT doc_id, p, generate_subscripts(ids, 1) AS sub,
         |    unnest(ids) AS token_id
         |  FROM docseq JOIN enc USING (w))
         |SELECT doc_id,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY p, sub) - 1)::BIGINT AS seq_pos,
         |  token_id::BIGINT AS token_id
         |FROM flat ORDER BY doc_id, seq_pos""".stripMargin
    },

    "q115_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        val p = s"pr${i - 1}"
        s"""c$i AS (
           |  SELECT e.dst AS node, sum(p.pr / d.outdeg) AS c
           |  FROM e JOIN $p p ON p.node = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |dm$i AS (
           |  SELECT coalesce(sum(p.pr), 0.0::DOUBLE) AS dm
           |  FROM $p p LEFT JOIN deg d ON d.src = p.node
           |  WHERE d.src IS NULL),
           |pr$i AS (
           |  SELECT n.node,
           |    (1.0::DOUBLE - 0.85::DOUBLE) / m.n +
           |      0.85::DOUBLE * (coalesce(c.c, 0.0::DOUBLE) + dm.dm / m.n) AS pr
           |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node, meta m, dm$i dm)"""
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |meta AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
         |pr0 AS (SELECT node, 1.0::DOUBLE / m.n AS pr FROM nodes, meta m),
         |$rounds
         |SELECT node, round(pr, 6) AS pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 20""".stripMargin
    },

    "q116_zorder" ->
      """WITH s AS (
        |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |    min(l_suppkey) AS smin, max(l_suppkey) AS smax
        |  FROM lineitem),
        |b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    ((l_partkey - pmin) * 255) // (pmax - pmin) AS pb,
        |    ((l_suppkey - smin) * 255) // (smax - smin) AS sb
        |  FROM lineitem, s)
        |SELECT l_orderkey, l_linenumber,
        |  list_sum([(((pb >> i) & 1) << (2 * i)) + (((sb >> i) & 1) << (2 * i + 1))
        |    FOR i IN range(0, 8)])::BIGINT AS zval
        |FROM b
        |ORDER BY zval, l_orderkey, l_linenumber LIMIT 50""".stripMargin,

    // NB langid: the oracle re-derives the whole model — hashed gram
    // buckets (poly-31 over code points, mod 4096), per-(label,bucket)
    // Laplace counts, priors — and the per-(doc,label) posterior, then
    // takes the same argmax (score DESC, label ASC). The output is
    // pure counts: no floats cross the engine boundary.
    "q117_langid_nb" ->
      """WITH t AS (SELECT doc_id, lang, lower(text) AS tx FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    unnest([((unicode(substr(tx,i,1))*31 + unicode(substr(tx,i+1,1)))*31
        |             + unicode(substr(tx,i+2,1))) % 4096
        |            FOR i IN range(1, len(tx) - 1)]) AS b
        |  FROM t),
        |counts AS (SELECT lang AS label, b, count(*) AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT label, sum(c) AS tt FROM counts GROUP BY 1),
        |pri AS (SELECT lang AS label, count(*) AS nd FROM documents GROUP BY 1),
        |alldocs AS (SELECT sum(nd) AS total FROM pri),
        |tf AS (SELECT doc_id, b, count(*) AS tf FROM g GROUP BY 1, 2),
        |sc AS (
        |  SELECT tf.doc_id, p.label,
        |    ln(p.nd::DOUBLE / a.total) +
        |    sum(tf.tf * ln((coalesce(c.c, 0) + 1)::DOUBLE / (t2.tt + 4096))) AS score
        |  FROM tf
        |  CROSS JOIN pri p
        |  CROSS JOIN alldocs a
        |  JOIN tot t2 ON t2.label = p.label
        |  LEFT JOIN counts c ON c.label = p.label AND c.b = tf.b
        |  GROUP BY tf.doc_id, p.label, p.nd, a.total, t2.tt),
        |pred AS (
        |  SELECT doc_id, label AS pred_label,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
        |  FROM sc)
        |SELECT d.lang AS label, p.pred_label, count(*) AS n_docs
        |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
        |WHERE p.rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Unigram trainer oracle: with words capped at 4 code points and
    // pieces at 2, the forward–backward recursion unrolls to closed
    // form. alpha: a1 = pc1; a_i = a_{i-1}*pc_i + a_{i-2}*pd_{i-1}.
    // beta: b_n = 1; b_i = pc_{i+1}*b_{i+1} + pd_{i+1}*b_{i+2}; Z = b0.
    // Expected count of an edge = alpha(start)*p(edge)*beta(end)/Z;
    // one M-step renormalizes: score = ln(c / sum c). Prob domain is
    // safe here (words ≤ 4 chars, probs ≥ ~1e-5 per piece).
    "q118_unigram_train" ->
      """WITH wv AS (
        |  SELECT w, count(*)::DOUBLE AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS w
        |    FROM documents) WHERE length(w) <= 4 GROUP BY w),
        |seed AS (
        |  SELECT piece, sum(freq) AS c FROM (
        |    SELECT substr(w, i, 1) AS piece, freq FROM
        |      (SELECT w, freq, unnest(generate_series(1, length(w))) AS i FROM wv)
        |    UNION ALL
        |    SELECT substr(w, i, 2) AS piece, freq FROM
        |      (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i FROM wv))
        |  GROUP BY piece),
        |p0 AS (SELECT piece, c / (SELECT sum(c) FROM seed) AS p FROM seed),
        |wp AS (
        |  SELECT w, freq, length(w) AS n,
        |    (SELECT p FROM p0 WHERE piece = substr(w, 1, 1)) AS pc1,
        |    CASE WHEN length(w) >= 2 THEN (SELECT p FROM p0 WHERE piece = substr(w, 2, 1)) END AS pc2,
        |    CASE WHEN length(w) >= 3 THEN (SELECT p FROM p0 WHERE piece = substr(w, 3, 1)) END AS pc3,
        |    CASE WHEN length(w) >= 4 THEN (SELECT p FROM p0 WHERE piece = substr(w, 4, 1)) END AS pc4,
        |    CASE WHEN length(w) >= 2 THEN (SELECT p FROM p0 WHERE piece = substr(w, 1, 2)) END AS pd1,
        |    CASE WHEN length(w) >= 3 THEN (SELECT p FROM p0 WHERE piece = substr(w, 2, 2)) END AS pd2,
        |    CASE WHEN length(w) >= 4 THEN (SELECT p FROM p0 WHERE piece = substr(w, 3, 2)) END AS pd3
        |  FROM wv),
        |fa AS (
        |  SELECT *, pc1 AS a1,
        |    CASE WHEN n >= 2 THEN pc1 * pc2 + pd1 END AS a2
        |  FROM wp),
        |fb AS (
        |  SELECT *,
        |    CASE WHEN n >= 3 THEN a2 * pc3 + a1 * pd2 END AS a3
        |  FROM fa),
        |fc AS (
        |  SELECT *,
        |    CASE WHEN n >= 4 THEN a3 * pc4 + a2 * pd3 END AS a4
        |  FROM fb),
        |ba AS (
        |  SELECT *,
        |    CASE WHEN n = 4 THEN 1.0::DOUBLE END AS b4
        |  FROM fc),
        |bb AS (
        |  SELECT *,
        |    CASE WHEN n = 3 THEN 1.0::DOUBLE WHEN n = 4 THEN pc4 * b4 END AS b3
        |  FROM ba),
        |bc AS (
        |  SELECT *,
        |    CASE WHEN n = 2 THEN 1.0::DOUBLE
        |         WHEN n >= 3 THEN pc3 * b3 + coalesce(pd3 * b4, 0.0::DOUBLE) END AS b2
        |  FROM bb),
        |bd AS (
        |  SELECT *,
        |    CASE WHEN n = 1 THEN 1.0::DOUBLE
        |         WHEN n >= 2 THEN pc2 * b2 + coalesce(pd2 * b3, 0.0::DOUBLE) END AS b1
        |  FROM bc),
        |be AS (
        |  SELECT *, pc1 * b1 + coalesce(pd1 * b2, 0.0::DOUBLE) AS z
        |  FROM bd),
        |contrib AS (
        |  SELECT substr(w, 1, 1) AS piece, freq * (pc1 * b1 / z) AS g FROM be
        |  UNION ALL SELECT substr(w, 2, 1), freq * (a1 * pc2 * b2 / z) FROM be WHERE n >= 2
        |  UNION ALL SELECT substr(w, 3, 1), freq * (a2 * pc3 * b3 / z) FROM be WHERE n >= 3
        |  UNION ALL SELECT substr(w, 4, 1), freq * (a3 * pc4 * b4 / z) FROM be WHERE n >= 4
        |  UNION ALL SELECT substr(w, 1, 2), freq * (pd1 * b2 / z) FROM be WHERE n >= 2
        |  UNION ALL SELECT substr(w, 2, 2), freq * (a1 * pd2 * b3 / z) FROM be WHERE n >= 3
        |  UNION ALL SELECT substr(w, 3, 2), freq * (a2 * pd3 * b4 / z) FROM be WHERE n >= 4),
        |em AS (SELECT piece, sum(g) AS c1 FROM contrib GROUP BY piece)
        |SELECT piece, round(ln(c1 / (SELECT sum(c1) FROM em)), 6) AS score
        |FROM em ORDER BY piece""".stripMargin,

    // Layout-independent box aggregate: the oracle reads the ORIGINAL
    // lineitem — matching proves the z-ordered rewrite lost nothing.
    "q119_zorder_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 0 AND 60 AND l_suppkey BETWEEN 0 AND 3""".stripMargin,

    // ustar arithmetic: 512-byte header + data padded to a 512 multiple
    // per member, 1024-byte trailer per shard; shards of 64 samples in
    // doc_id order.
    "q120_webdataset_manifest" ->
      """WITH r AS (
        |  SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS rn
        |  FROM documents)
        |SELECT 'part-0-' || (rn // 64)::VARCHAR || '.tar' AS shard,
        |  count(*) AS n_samples,
        |  (sum(512 + 512 * ceil(octet_length(text::BLOB) / 512.0)) + 1024)::BIGINT AS n_bytes
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // Bucketed packing is integer arithmetic end to end: bucket = the
    // smallest doubling edge >= token count (capped at 512), rank within
    // bucket by doc_id, pack_seq = rank // (512 // bucket).
    "q122_bucketed_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |         WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |         WHEN n_tokens <= 256 THEN 256 ELSE 512 END::BIGINT AS bucket,
        |    n_tokens > 512 AS truncated
        |  FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rnk
        |  FROM b)
        |SELECT doc_id, n_tokens, bucket, rnk // (512 // bucket) AS pack_seq, truncated
        |FROM r ORDER BY doc_id""".stripMargin,

    // Logreg oracle: the ENTIRE training run replayed as chained CTEs —
    // feature frame (per-step poly-31 word buckets mod 64, tf/n values,
    // bias slot -1), then 3 gradient-descent iterations from w = 0 with
    // lr = 2 and weights rounded to 6 dp each update (the cross-engine
    // contract that stops FP reduction-order drift from compounding),
    // then final scoring. prob rounds to 4 dp; pred thresholds the raw
    // probability.
    "q123_logreg_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |n AS (SELECT count(*)::DOUBLE AS nd FROM documents),
        |tok AS (
        |  SELECT doc_id, y, len(toks)::DOUBLE AS n, unnest(toks) AS w
        |  FROM base WHERE len(toks) > 0),
        |feat AS (
        |  SELECT doc_id, y, b, count(*)::DOUBLE / n AS x FROM (
        |    SELECT doc_id, y, n,
        |      list_reduce(list_prepend(0, [unicode(substr(w, i, 1)) FOR i IN range(1, len(w) + 1)]),
        |        (a, c) -> (a * 31 + c) % 64) AS b
        |    FROM tok)
        |  GROUP BY doc_id, y, b, n
        |  UNION ALL
        |  SELECT doc_id, y, -1 AS b, 1.0 AS x FROM base),
        |g1 AS (SELECT b, sum(x * (0.5 - y)) AS g FROM feat GROUP BY b),
        |w1 AS (SELECT b, round(-2.0 * g / (SELECT nd FROM n), 6) AS wt FROM g1),
        |s2 AS (
        |  SELECT f.doc_id, f.y, 1.0/(1.0 + exp(-sum(f.x * coalesce(w1.wt, 0)))) AS p
        |  FROM feat f LEFT JOIN w1 ON w1.b = f.b GROUP BY f.doc_id, f.y),
        |g2 AS (
        |  SELECT f.b, sum(f.x * (s.p - s.y)) AS g
        |  FROM feat f JOIN s2 s ON s.doc_id = f.doc_id GROUP BY f.b),
        |w2 AS (
        |  SELECT g2.b, round(coalesce(w1.wt, 0) - 2.0 * g2.g / (SELECT nd FROM n), 6) AS wt
        |  FROM g2 LEFT JOIN w1 ON w1.b = g2.b),
        |s3 AS (
        |  SELECT f.doc_id, f.y, 1.0/(1.0 + exp(-sum(f.x * coalesce(w2.wt, 0)))) AS p
        |  FROM feat f LEFT JOIN w2 ON w2.b = f.b GROUP BY f.doc_id, f.y),
        |g3 AS (
        |  SELECT f.b, sum(f.x * (s.p - s.y)) AS g
        |  FROM feat f JOIN s3 s ON s.doc_id = f.doc_id GROUP BY f.b),
        |w3 AS (
        |  SELECT g3.b, round(coalesce(w2.wt, 0) - 2.0 * g3.g / (SELECT nd FROM n), 6) AS wt
        |  FROM g3 LEFT JOIN w2 ON w2.b = g3.b),
        |s4 AS (
        |  SELECT f.doc_id, 1.0/(1.0 + exp(-sum(f.x * coalesce(w3.wt, 0)))) AS p
        |  FROM feat f LEFT JOIN w3 ON w3.b = f.b GROUP BY f.doc_id)
        |SELECT doc_id, round(p, 4) AS prob,
        |  CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred
        |FROM s4 ORDER BY doc_id""".stripMargin,

    // Cluster-safe split oracle: q62's recursive-CTE connected
    // components over the exact-jaccard pair graph (LSH recall 1.0 at
    // this threshold — same device as q62/q89), group key = cluster
    // label or own id, then q56's md5 CASE on the group key.
    "q124_cluster_safe_split" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct([
        |      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
        |    ]) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
        |      len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.5),
        |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT s, s FROM e
        |  UNION
        |  SELECT e.s, r.comp FROM e JOIN reach r ON e.d = r.id),
        |lab AS (SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |  coalesce(l.cluster_id, d.doc_id) AS group_key,
        |  CASE
        |    WHEN substring(md5(coalesce(l.cluster_id, d.doc_id)::VARCHAR), 1, 8) < 'cccccccc' THEN 'train'
        |    WHEN substring(md5(coalesce(l.cluster_id, d.doc_id)::VARCHAR), 1, 8) < 'e6666666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // WARC round trip: payload = UTF-8 text bytes, record id =
    // "urn:graft:<doc_id>", lang rides an X-Graft-lang named field —
    // the oracle recomputes the post-roundtrip aggregate from the
    // parquet source directly.
    "q125_warc_roundtrip" ->
      """SELECT lang, count(*) AS docs,
        |  sum(octet_length(text::BLOB))::BIGINT AS payload_bytes,
        |  sum(octet_length(('urn:graft:' || doc_id::VARCHAR)::BLOB))::BIGINT AS id_bytes
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Shannon entropy re-derived by per-char group-by: p = n/total per
    // (doc, char), entropy = -sum p*log2(p). Docs are non-empty in this
    // corpus, so no empty-split edge; round(4) absorbs log2 ULP skew.
    "q126_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, ch, count(*)::DOUBLE AS n FROM c GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, sum(n) AS total FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id,
        |  round(-sum((n / total) * log2(n / total)), 4) AS entropy_bits
        |FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
        |GROUP BY cnt.doc_id
        |ORDER BY cnt.doc_id""".stripMargin,

    // DuckDB has no deflate, so the oracle pins what it CAN recompute
    // (doc counts, octet sums) and literal TRUE for the two in-plan
    // proof booleans: inflate(deflate(text))==text per doc, and the
    // aggregated ratio band (q65's bounded-error device).
    "q127_compression_quality" ->
      """SELECT source, count(*) AS docs,
        |  sum(octet_length(text::BLOB))::BIGINT AS octets,
        |  TRUE AS roundtrip_ok, TRUE AS ratio_band_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Vocabulary overlap: exact distinct-token counts + exact
    // intersection vs English are the oracle columns; the theta-sketch
    // estimate only feeds the bounded-error boolean (q65's device).
    "q128_vocab_overlap" ->
      """WITH w AS (
        |  SELECT lang, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT lang, unnest([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]) AS tok
        |  FROM w),
        |d AS (SELECT DISTINCT lang, tok FROM t),
        |nd AS (SELECT lang, count(*) AS nd_tokens FROM d GROUP BY lang),
        |e AS (SELECT DISTINCT tok FROM d WHERE lang = 'en'),
        |x AS (SELECT d.lang, count(*) AS exact_inter FROM d JOIN e USING (tok) GROUP BY d.lang)
        |SELECT nd.lang AS lang, nd.nd_tokens, x.exact_inter, TRUE AS inter_ok
        |FROM nd JOIN x ON nd.lang = x.lang ORDER BY nd.lang""".stripMargin,

    // Layout-independent integrity after the rewrite (q119's device);
    // the fewer-files invariant folds into the boolean.
    "q137_compaction" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        |  TRUE AS compacted
        |FROM lineitem""".stripMargin,

    // PSL eTLD+1: the oracle rebuilds the same six host shapes and
    // states each shape's registrable domain from the rule classes
    // directly (wildcard *.ck -> 3 labels survive; exception !www.ck ->
    // www.ck itself; co.uk -> 3; com/jp/default * -> 2) — the q92
    // device: independent decision replay, no shared code path.
    "q138_psl_domains" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'a' || doc_id::VARCHAR || '.b' || doc_id::VARCHAR || '.test.ck'
        |    WHEN 1 THEN 'x' || doc_id::VARCHAR || '.www.ck'
        |    WHEN 2 THEN 'sub' || doc_id::VARCHAR || '.shop' || doc_id::VARCHAR || '.example.co.uk'
        |    WHEN 3 THEN 'www.site' || doc_id::VARCHAR || '.com'
        |    WHEN 4 THEN 'deep.sub.page' || doc_id::VARCHAR || '.xyz'
        |    ELSE 'host' || doc_id::VARCHAR || '.jp' END AS host,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'b' || doc_id::VARCHAR || '.test.ck'
        |    WHEN 1 THEN 'www.ck'
        |    WHEN 2 THEN 'example.co.uk'
        |    WHEN 3 THEN 'site' || doc_id::VARCHAR || '.com'
        |    WHEN 4 THEN 'page' || doc_id::VARCHAR || '.xyz'
        |    ELSE 'host' || doc_id::VARCHAR || '.jp' END AS rdomain
        |FROM documents ORDER BY doc_id""".stripMargin,

    // grouped quantile_cont IS DuckDB's own type-7 per-group
    // implementation — a fully independent oracle; lockstep unnest
    // pairs each quantile with its value
    "q139_group_quantiles" ->
      """WITH a AS (
        |  SELECT source,
        |    quantile_cont(octet_length(text::BLOB), [0.25, 0.5, 0.9]) AS qa
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL
        |  GROUP BY source)
        |SELECT source, unnest([0.25, 0.5, 0.9]) AS q,
        |  round(unnest(qa), 4) AS exact_q
        |FROM a ORDER BY source, q""".stripMargin,

    // Interpolated Kneser-Ney, D = 0.75: discounted ML term +
    // (D * distinct-continuations / context mass) * continuation
    // unigram N1+(.,w2)/B — the q77 CTE scaffold with the KN model
    // frames swapped in
    "q140_kn_bigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM toks WHERE len(toks) >= 2),
        |docbi AS (SELECT doc_id, w1, w2, count(*) AS c FROM bi GROUP BY doc_id, w1, w2),
        |bm AS (SELECT w1, w2, sum(c) AS cb FROM docbi GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(cb) AS cw, count(*) AS nfollow FROM bm GROUP BY w1),
        |prec AS (SELECT w2, count(*) AS nprec FROM bm GROUP BY w2),
        |ty AS (SELECT count(*) AS btypes FROM bm)
        |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |  round(-sum(c * ln(
        |    greatest(cb - 0.75, 0.0) / cw +
        |    (0.75 * nfollow / cw) * (nprec::DOUBLE / btypes))) / sum(c), 6) AS nll
        |FROM docbi
        |JOIN bm USING (w1, w2) JOIN ctx USING (w1) JOIN prec USING (w2)
        |CROSS JOIN ty
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Reference-model KN with LEFT joins: unseen bigram -> discounted
    // term 0; unseen context -> pure continuation; unseen word ->
    // 1/(2B) unk mass — the same three cases, same coalesce order
    "q141_kn_score_ref" ->
      """WITH rtoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |rbi AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM rtoks WHERE len(toks) >= 2),
        |bm AS (SELECT w1, w2, count(*) AS cb FROM rbi GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(cb) AS cw, count(*) AS nfollow FROM bm GROUP BY w1),
        |prec AS (SELECT w2, count(*) AS nprec FROM bm GROUP BY w2),
        |ty AS (SELECT count(*) AS btypes FROM bm),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM toks WHERE len(toks) >= 2),
        |docbi AS (SELECT doc_id, w1, w2, count(*) AS c FROM bi GROUP BY doc_id, w1, w2),
        |scored AS (
        |  SELECT doc_id, c, cb,
        |    CASE WHEN cw IS NOT NULL THEN
        |      greatest(coalesce(cb, 0) - 0.75, 0.0) / cw +
        |      (0.75 * nfollow / cw) *
        |        (CASE WHEN nprec IS NOT NULL THEN nprec::DOUBLE / btypes
        |              ELSE 0.5 / btypes END)
        |    ELSE CASE WHEN nprec IS NOT NULL THEN nprec::DOUBLE / btypes
        |              ELSE 0.5 / btypes END END AS p
        |  FROM docbi
        |  LEFT JOIN bm USING (w1, w2) LEFT JOIN ctx USING (w1)
        |  LEFT JOIN prec USING (w2) CROSS JOIN ty)
        |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |  sum(CASE WHEN cb IS NULL THEN c ELSE 0 END)::BIGINT AS n_unseen,
        |  round(-sum(c * ln(p)) / sum(c), 6) AS nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // statuses restated from the v2-construction arithmetic: removed
    // beats changed (the 7-filter applies first), adds are the ten
    // shifted ids
    "q142_corpus_diff" ->
      """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'removed'
        |       WHEN doc_id % 5 = 0 THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS id, 'added' AS status
        |FROM documents WHERE doc_id < 10
        |ORDER BY id""".stripMargin,

    // Recursive interpolated KN at order 3, self-scored: trigram
    // counts/contexts from the trigram STREAM; order-2 continuation
    // counts a2 = N1+(.w2w3) from trigram TYPES; continuation unigram
    // from bigram types. Self model -> every level seen -> the full
    // nested formula applies with no null branch.
    "q143_kn_trigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM toks WHERE len(toks) >= 3),
        |doctri AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri GROUP BY doc_id, w1, w2, w3),
        |tm AS (SELECT w1, w2, w3, sum(c) AS cb FROM doctri GROUP BY w1, w2, w3),
        |tctx AS (SELECT w1, w2, sum(cb) AS cw, count(*) AS nfollow FROM tm GROUP BY w1, w2),
        |a2 AS (SELECT w2, w3, count(*) AS a FROM tm GROUP BY w2, w3),
        |a2ctx AS (SELECT w2, sum(a) AS ad, count(*) AS anf FROM a2 GROUP BY w2),
        |bi AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM toks WHERE len(toks) >= 2),
        |bt AS (SELECT DISTINCT w1, w2 FROM bi),
        |prec AS (SELECT w2 AS w3, count(*) AS nprec FROM bt GROUP BY w2),
        |ty AS (SELECT count(*) AS btypes FROM bt)
        |SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
        |  round(-sum(c * ln(
        |    greatest(cb - 0.75, 0.0) / cw +
        |    (0.75 * nfollow / cw) * (
        |      greatest(a - 0.75, 0.0) / ad +
        |      (0.75 * anf / ad) * (nprec::DOUBLE / btypes)))) / sum(c), 6) AS nll
        |FROM doctri
        |JOIN tm USING (w1, w2, w3) JOIN tctx USING (w1, w2)
        |JOIN a2 USING (w2, w3) JOIN a2ctx USING (w2)
        |JOIN prec USING (w3) CROSS JOIN ty
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Reference-model trigram KN with LEFT joins: the same frames from
    // the 'en' slice only, the probability as a nested CASE ladder
    // (p1 continuation unigram with 1/(2B) unk mass -> p2 order-2
    // continuation with discount -> p3 top order on raw counts), the
    // same coalesce/greatest arithmetic order as the Spark fold.
    "q144_kn_trigram_ref" ->
      """WITH rtoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |rtri AS (
        |  SELECT unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM rtoks WHERE len(toks) >= 3),
        |tm AS (SELECT w1, w2, w3, count(*) AS cb FROM rtri GROUP BY w1, w2, w3),
        |tctx AS (SELECT w1, w2, sum(cb) AS cw, count(*) AS nfollow FROM tm GROUP BY w1, w2),
        |a2 AS (SELECT w2, w3, count(*) AS a FROM tm GROUP BY w2, w3),
        |a2ctx AS (SELECT w2, sum(a) AS ad, count(*) AS anf FROM a2 GROUP BY w2),
        |rbi AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM rtoks WHERE len(toks) >= 2),
        |bt AS (SELECT DISTINCT w1, w2 FROM rbi),
        |prec AS (SELECT w2 AS w3, count(*) AS nprec FROM bt GROUP BY w2),
        |ty AS (SELECT count(*) AS btypes FROM bt),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM toks WHERE len(toks) >= 3),
        |doctri AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri GROUP BY doc_id, w1, w2, w3),
        |joined AS (
        |  SELECT doc_id, c, cb, cw, nfollow, a, ad, anf, nprec, btypes,
        |    CASE WHEN nprec IS NOT NULL THEN nprec::DOUBLE / btypes
        |         ELSE 0.5 / btypes END AS p1
        |  FROM doctri
        |  LEFT JOIN tm USING (w1, w2, w3) LEFT JOIN tctx USING (w1, w2)
        |  LEFT JOIN a2 USING (w2, w3) LEFT JOIN a2ctx USING (w2)
        |  LEFT JOIN prec USING (w3) CROSS JOIN ty),
        |p2s AS (
        |  SELECT *, CASE WHEN ad IS NOT NULL THEN
        |      greatest(coalesce(a, 0) - 0.75, 0.0) / ad + (0.75 * anf / ad) * p1
        |    ELSE p1 END AS p2
        |  FROM joined),
        |p3s AS (
        |  SELECT *, CASE WHEN cw IS NOT NULL THEN
        |      greatest(coalesce(cb, 0) - 0.75, 0.0) / cw + (0.75 * nfollow / cw) * p2
        |    ELSE p2 END AS p
        |  FROM p2s)
        |SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
        |  sum(CASE WHEN cb IS NULL THEN c ELSE 0 END)::BIGINT AS n_unseen,
        |  round(-sum(c * ln(p)) / sum(c), 6) AS nll
        |FROM p3s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q144's scoring CTEs verbatim, then DuckDB's own quantile_cont
    // quartile cutoffs over the rounded nll and the same CASE bands —
    // an independent engine recomputes the whole CCNet split
    "q147_ccnet_buckets" ->
      """WITH rtoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |rtri AS (
        |  SELECT unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM rtoks WHERE len(toks) >= 3),
        |tm AS (SELECT w1, w2, w3, count(*) AS cb FROM rtri GROUP BY w1, w2, w3),
        |tctx AS (SELECT w1, w2, sum(cb) AS cw, count(*) AS nfollow FROM tm GROUP BY w1, w2),
        |a2 AS (SELECT w2, w3, count(*) AS a FROM tm GROUP BY w2, w3),
        |a2ctx AS (SELECT w2, sum(a) AS ad, count(*) AS anf FROM a2 GROUP BY w2),
        |rbi AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM rtoks WHERE len(toks) >= 2),
        |bt AS (SELECT DISTINCT w1, w2 FROM rbi),
        |prec AS (SELECT w2 AS w3, count(*) AS nprec FROM bt GROUP BY w2),
        |ty AS (SELECT count(*) AS btypes FROM bt),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM toks WHERE len(toks) >= 3),
        |doctri AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri GROUP BY doc_id, w1, w2, w3),
        |joined AS (
        |  SELECT doc_id, c, cb, cw, nfollow, a, ad, anf, nprec, btypes,
        |    CASE WHEN nprec IS NOT NULL THEN nprec::DOUBLE / btypes
        |         ELSE 0.5 / btypes END AS p1
        |  FROM doctri
        |  LEFT JOIN tm USING (w1, w2, w3) LEFT JOIN tctx USING (w1, w2)
        |  LEFT JOIN a2 USING (w2, w3) LEFT JOIN a2ctx USING (w2)
        |  LEFT JOIN prec USING (w3) CROSS JOIN ty),
        |p2s AS (
        |  SELECT *, CASE WHEN ad IS NOT NULL THEN
        |      greatest(coalesce(a, 0) - 0.75, 0.0) / ad + (0.75 * anf / ad) * p1
        |    ELSE p1 END AS p2
        |  FROM joined),
        |p3s AS (
        |  SELECT *, CASE WHEN cw IS NOT NULL THEN
        |      greatest(coalesce(cb, 0) - 0.75, 0.0) / cw + (0.75 * nfollow / cw) * p2
        |    ELSE p2 END AS p
        |  FROM p2s),
        |scored AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
        |    sum(CASE WHEN cb IS NULL THEN c ELSE 0 END)::BIGINT AS n_unseen,
        |    round(-sum(c * ln(p)) / sum(c), 6) AS nll
        |  FROM p3s GROUP BY doc_id),
        |cuts AS (
        |  SELECT quantile_cont(nll, 0.25) AS q25, quantile_cont(nll, 0.75) AS q75
        |  FROM scored)
        |SELECT doc_id, n_ngrams, n_unseen, nll,
        |  CASE WHEN nll <= q25 THEN 'head'
        |       WHEN nll > q75 THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    // Release-composition arithmetic restated per id (the q142 device
    // extended with the dedup, gate, and index-membership rules):
    // status from the %7/%5 construction; an added doc (verbatim v1
    // copy) is deduped exactly when its original is still LIVE at
    // probe time (not removed by %7, not changed by %5 — a changed
    // original was tombstoned before the probe and its new text sits
    // below the 0.999 threshold); indexed = delta AND NOT deduped AND
    // the v2 text clears 40 tokens (changed text = original + exactly
    // one token); in_index additionally keeps every unchanged doc
    // (init indexed all of v1) and drops removed ones.
    "q145_incremental_release" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |    coalesce(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')), 0) AS nt
        |  FROM documents),
        |disp AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'removed'
        |         WHEN doc_id % 5 = 0 THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0
        |         THEN nt + 1 ELSE nt END AS v2_nt,
        |    FALSE AS dup
        |  FROM tc
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id, 'added' AS status, nt AS v2_nt,
        |    (doc_id % 7 <> 0 AND doc_id % 5 <> 0) AS dup
        |  FROM tc WHERE doc_id < 10)
        |SELECT id, status,
        |  (status IN ('added', 'changed') AND NOT dup AND v2_nt >= 40) AS indexed,
        |  dup AS deduped,
        |  CASE WHEN status = 'removed' THEN FALSE
        |       WHEN status = 'unchanged' THEN TRUE
        |       ELSE (NOT dup AND v2_nt >= 40) END AS in_index
        |FROM disp ORDER BY id""".stripMargin,

    // Order-5 KN: every continuation level from its own (k+1)-gram
    // stream — a4 from 5-gram types, a3 from 4-gram types, a2 from
    // trigram types, the continuation unigram from bigram types — the
    // exact padded-frame contract, then the q144 CASE ladder two rungs
    // deeper. LEFT joins throughout; n_unseen counts absent 5-grams.
    "q146_kn_5gram_ref" ->
      """WITH rtoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |r5 AS (
        |  SELECT unnest(toks[1:len(toks)-4]) AS w1, unnest(toks[2:len(toks)-3]) AS w2,
        |    unnest(toks[3:len(toks)-2]) AS w3, unnest(toks[4:len(toks)-1]) AS w4,
        |    unnest(toks[5:len(toks)]) AS w5
        |  FROM rtoks WHERE len(toks) >= 5),
        |tm AS (SELECT w1, w2, w3, w4, w5, count(*) AS cb FROM r5 GROUP BY w1, w2, w3, w4, w5),
        |tctx AS (SELECT w1, w2, w3, w4, sum(cb) AS cw, count(*) AS nfollow FROM tm GROUP BY w1, w2, w3, w4),
        |a4 AS (SELECT w2, w3, w4, w5, count(*) AS a4 FROM tm GROUP BY w2, w3, w4, w5),
        |a4ctx AS (SELECT w2, w3, w4, sum(a4) AS ad4, count(*) AS anf4 FROM a4 GROUP BY w2, w3, w4),
        |r4 AS (
        |  SELECT unnest(toks[1:len(toks)-3]) AS v1, unnest(toks[2:len(toks)-2]) AS v2,
        |    unnest(toks[3:len(toks)-1]) AS v3, unnest(toks[4:len(toks)]) AS v4
        |  FROM rtoks WHERE len(toks) >= 4),
        |t4 AS (SELECT DISTINCT v1, v2, v3, v4 FROM r4),
        |a3 AS (SELECT v2 AS w3, v3 AS w4, v4 AS w5, count(*) AS a3 FROM t4 GROUP BY v2, v3, v4),
        |a3ctx AS (SELECT w3, w4, sum(a3) AS ad3, count(*) AS anf3 FROM a3 GROUP BY w3, w4),
        |r3 AS (
        |  SELECT unnest(toks[1:len(toks)-2]) AS u1, unnest(toks[2:len(toks)-1]) AS u2,
        |    unnest(toks[3:len(toks)]) AS u3
        |  FROM rtoks WHERE len(toks) >= 3),
        |t3 AS (SELECT DISTINCT u1, u2, u3 FROM r3),
        |a2 AS (SELECT u2 AS w4, u3 AS w5, count(*) AS a2 FROM t3 GROUP BY u2, u3),
        |a2ctx AS (SELECT w4, sum(a2) AS ad2, count(*) AS anf2 FROM a2 GROUP BY w4),
        |rbi AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS b1, unnest(toks[2:len(toks)]) AS b2
        |  FROM rtoks WHERE len(toks) >= 2),
        |bt AS (SELECT DISTINCT b1, b2 FROM rbi),
        |prec AS (SELECT b2 AS w5, count(*) AS nprec FROM bt GROUP BY b2),
        |ty AS (SELECT count(*) AS btypes FROM bt),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |d5 AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-4]) AS w1, unnest(toks[2:len(toks)-3]) AS w2,
        |    unnest(toks[3:len(toks)-2]) AS w3, unnest(toks[4:len(toks)-1]) AS w4,
        |    unnest(toks[5:len(toks)]) AS w5
        |  FROM toks WHERE len(toks) >= 5),
        |doc5 AS (SELECT doc_id, w1, w2, w3, w4, w5, count(*) AS c FROM d5 GROUP BY doc_id, w1, w2, w3, w4, w5),
        |joined AS (
        |  SELECT doc_id, c, cb, cw, nfollow, a4, ad4, anf4, a3, ad3, anf3,
        |    a2, ad2, anf2, nprec, btypes,
        |    CASE WHEN nprec IS NOT NULL THEN nprec::DOUBLE / btypes
        |         ELSE 0.5 / btypes END AS p1
        |  FROM doc5
        |  LEFT JOIN tm USING (w1, w2, w3, w4, w5)
        |  LEFT JOIN tctx USING (w1, w2, w3, w4)
        |  LEFT JOIN a4 USING (w2, w3, w4, w5) LEFT JOIN a4ctx USING (w2, w3, w4)
        |  LEFT JOIN a3 USING (w3, w4, w5) LEFT JOIN a3ctx USING (w3, w4)
        |  LEFT JOIN a2 USING (w4, w5) LEFT JOIN a2ctx USING (w4)
        |  LEFT JOIN prec USING (w5) CROSS JOIN ty),
        |p2s AS (SELECT *, CASE WHEN ad2 IS NOT NULL THEN
        |    greatest(coalesce(a2, 0) - 0.75, 0.0) / ad2 + (0.75 * anf2 / ad2) * p1
        |  ELSE p1 END AS p2 FROM joined),
        |p3s AS (SELECT *, CASE WHEN ad3 IS NOT NULL THEN
        |    greatest(coalesce(a3, 0) - 0.75, 0.0) / ad3 + (0.75 * anf3 / ad3) * p2
        |  ELSE p2 END AS p3 FROM p2s),
        |p4s AS (SELECT *, CASE WHEN ad4 IS NOT NULL THEN
        |    greatest(coalesce(a4, 0) - 0.75, 0.0) / ad4 + (0.75 * anf4 / ad4) * p3
        |  ELSE p3 END AS p4 FROM p3s),
        |p5s AS (SELECT *, CASE WHEN cw IS NOT NULL THEN
        |    greatest(coalesce(cb, 0) - 0.75, 0.0) / cw + (0.75 * nfollow / cw) * p4
        |  ELSE p4 END AS p FROM p4s)
        |SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
        |  sum(CASE WHEN cb IS NULL THEN c ELSE 0 END)::BIGINT AS n_unseen,
        |  round(-sum(c * ln(p)) / sum(c), 6) AS nll
        |FROM p5s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q144's CTEs with the single 0.75 replaced by the Chen-Goodman
    // three-discount estimator, replayed end to end: count-of-counts
    // n1..n4 per level (top-order raw counts AND the level-2
    // continuation counts each estimate their own triple), the
    // Y/D1/D2/D3+ algebra with the operator's exact clamp/fallback
    // CASEs, per-context class totals N1/N2/N3+, the count-class
    // discount selection, and the gamma backoff weight
    // (D1·N1+D2·N2+D3+·N3+)/denom — every formula written in the same
    // association order as estimateDiscounts/knProbabilityMod so the
    // doubles agree bit-for-bit before the round(6).
    "q148_kn_mod_ref" ->
      """WITH rtoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |rtri AS (
        |  SELECT unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM rtoks WHERE len(toks) >= 3),
        |tm AS (SELECT w1, w2, w3, count(*) AS cb FROM rtri GROUP BY w1, w2, w3),
        |tctx AS (
        |  SELECT w1, w2, sum(cb) AS cw, count(*) AS nfollow,
        |    count(*) FILTER (WHERE cb = 1) AS nf1,
        |    count(*) FILTER (WHERE cb = 2) AS nf2,
        |    count(*) FILTER (WHERE cb >= 3) AS nf3
        |  FROM tm GROUP BY w1, w2),
        |tnc AS (
        |  SELECT count(*) FILTER (WHERE cb = 1) AS n1,
        |    count(*) FILTER (WHERE cb = 2) AS n2,
        |    count(*) FILTER (WHERE cb = 3) AS n3,
        |    count(*) FILTER (WHERE cb = 4) AS n4 FROM tm),
        |td AS (
        |  SELECT CASE WHEN n1 > 0 AND 1.0 - 2.0 * y * n2::DOUBLE / n1::DOUBLE > 0.0
        |      THEN least(1.0 - 2.0 * y * n2::DOUBLE / n1::DOUBLE, 1.0)
        |      ELSE 0.75 END AS td1,
        |    CASE WHEN n2 > 0 AND 2.0 - 3.0 * y * n3::DOUBLE / n2::DOUBLE > 0.0
        |      THEN least(2.0 - 3.0 * y * n3::DOUBLE / n2::DOUBLE, 2.0)
        |      ELSE 0.75 END AS td2,
        |    CASE WHEN n3 > 0 AND 3.0 - 4.0 * y * n4::DOUBLE / n3::DOUBLE > 0.0
        |      THEN least(3.0 - 4.0 * y * n4::DOUBLE / n3::DOUBLE, 3.0)
        |      ELSE 0.75 END AS td3
        |  FROM (SELECT *, CASE WHEN n1 + 2 * n2 > 0
        |    THEN n1::DOUBLE / (n1::DOUBLE + 2.0 * n2::DOUBLE)
        |    ELSE 0.0 END AS y FROM tnc)),
        |a2 AS (SELECT w2, w3, count(*) AS a FROM tm GROUP BY w2, w3),
        |a2ctx AS (
        |  SELECT w2, sum(a) AS ad, count(*) AS anf,
        |    count(*) FILTER (WHERE a = 1) AS an1,
        |    count(*) FILTER (WHERE a = 2) AS an2,
        |    count(*) FILTER (WHERE a >= 3) AS an3
        |  FROM a2 GROUP BY w2),
        |anc AS (
        |  SELECT count(*) FILTER (WHERE a = 1) AS n1,
        |    count(*) FILTER (WHERE a = 2) AS n2,
        |    count(*) FILTER (WHERE a = 3) AS n3,
        |    count(*) FILTER (WHERE a = 4) AS n4 FROM a2),
        |cd AS (
        |  SELECT CASE WHEN n1 > 0 AND 1.0 - 2.0 * y * n2::DOUBLE / n1::DOUBLE > 0.0
        |      THEN least(1.0 - 2.0 * y * n2::DOUBLE / n1::DOUBLE, 1.0)
        |      ELSE 0.75 END AS cd1,
        |    CASE WHEN n2 > 0 AND 2.0 - 3.0 * y * n3::DOUBLE / n2::DOUBLE > 0.0
        |      THEN least(2.0 - 3.0 * y * n3::DOUBLE / n2::DOUBLE, 2.0)
        |      ELSE 0.75 END AS cd2,
        |    CASE WHEN n3 > 0 AND 3.0 - 4.0 * y * n4::DOUBLE / n3::DOUBLE > 0.0
        |      THEN least(3.0 - 4.0 * y * n4::DOUBLE / n3::DOUBLE, 3.0)
        |      ELSE 0.75 END AS cd3
        |  FROM (SELECT *, CASE WHEN n1 + 2 * n2 > 0
        |    THEN n1::DOUBLE / (n1::DOUBLE + 2.0 * n2::DOUBLE)
        |    ELSE 0.0 END AS y FROM anc)),
        |rbi AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM rtoks WHERE len(toks) >= 2),
        |bt AS (SELECT DISTINCT w1, w2 FROM rbi),
        |prec AS (SELECT w2 AS w3, count(*) AS nprec FROM bt GROUP BY w2),
        |ty AS (SELECT count(*) AS btypes FROM bt),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
        |    unnest(toks[2:len(toks)-1]) AS w2, unnest(toks[3:len(toks)]) AS w3
        |  FROM toks WHERE len(toks) >= 3),
        |doctri AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri GROUP BY doc_id, w1, w2, w3),
        |joined AS (
        |  SELECT doc_id, c, cb, cw, nfollow, nf1, nf2, nf3,
        |    a, ad, anf, an1, an2, an3, nprec, btypes,
        |    td1, td2, td3, cd1, cd2, cd3,
        |    CASE WHEN nprec IS NOT NULL THEN nprec::DOUBLE / btypes
        |         ELSE 0.5 / btypes END AS p1
        |  FROM doctri
        |  LEFT JOIN tm USING (w1, w2, w3) LEFT JOIN tctx USING (w1, w2)
        |  LEFT JOIN a2 USING (w2, w3) LEFT JOIN a2ctx USING (w2)
        |  LEFT JOIN prec USING (w3) CROSS JOIN ty CROSS JOIN td CROSS JOIN cd),
        |p2s AS (
        |  SELECT *, CASE WHEN ad IS NOT NULL THEN
        |      greatest(coalesce(a, 0) - CASE
        |        WHEN coalesce(a, 0) >= 3 THEN cd3
        |        WHEN coalesce(a, 0) = 2 THEN cd2
        |        WHEN coalesce(a, 0) = 1 THEN cd1 ELSE 0.0 END, 0.0) / ad +
        |      ((cd1 * an1 + cd2 * an2 + cd3 * an3) / ad) * p1
        |    ELSE p1 END AS p2
        |  FROM joined),
        |p3s AS (
        |  SELECT *, CASE WHEN cw IS NOT NULL THEN
        |      greatest(coalesce(cb, 0) - CASE
        |        WHEN coalesce(cb, 0) >= 3 THEN td3
        |        WHEN coalesce(cb, 0) = 2 THEN td2
        |        WHEN coalesce(cb, 0) = 1 THEN td1 ELSE 0.0 END, 0.0) / cw +
        |      ((td1 * nf1 + td2 * nf2 + td3 * nf3) / cw) * p2
        |    ELSE p2 END AS p
        |  FROM p2s)
        |SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
        |  sum(CASE WHEN cb IS NULL THEN c ELSE 0 END)::BIGINT AS n_unseen,
        |  round(-sum(c * ln(p)) / sum(c), 6) AS nll
        |FROM p3s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The full deleted-interpolation replay: train counts from even
    // docs, held-out bigrams from odd docs, pml/pbo per held-out type,
    // then each EM iteration as a chained scalar CTE — the same
    // DECIMAL(18,0)x DECIMAL(14,12) responsibility sum and 6-dp lambda
    // round the operator commits to, so the trace matches exactly.
    "q149_jm_em_lambda" ->
      """WITH ttoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE doc_id % 2 = 0),
        |tw AS (SELECT unnest(toks) AS w FROM ttoks),
        |tvoc AS (SELECT w, count(*) AS n FROM tw GROUP BY w),
        |tt AS (SELECT sum(n) AS tot, count(*) AS v FROM tvoc),
        |tbi0 AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM ttoks WHERE len(toks) >= 2),
        |tbi AS (SELECT w1, w2, count(*) AS cb FROM tbi0 GROUP BY w1, w2),
        |tctx AS (SELECT w1, sum(cb) AS cw FROM tbi GROUP BY w1),
        |htoks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents WHERE doc_id % 2 = 1),
        |hbi0 AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM htoks WHERE len(toks) >= 2),
        |hbi AS (SELECT w1, w2, count(*) AS c FROM hbi0 GROUP BY w1, w2),
        |j AS (
        |  SELECT c,
        |    CASE WHEN cb IS NOT NULL THEN cb::DOUBLE / cw ELSE 0.0 END AS pml,
        |    (coalesce(n, 0) + 1)::DOUBLE / (tot + v) AS pbo
        |  FROM hbi
        |  LEFT JOIN tbi USING (w1, w2) LEFT JOIN tctx USING (w1)
        |  LEFT JOIN tvoc ON tvoc.w = hbi.w2 CROSS JOIN tt),
        |i1 AS (
        |  SELECT least(round(sum(c::DECIMAL(18,0) *
        |      round((0.5 * pml) / (0.5 * pml + (1.0 - 0.5) * pbo), 12)::DECIMAL(14,12)
        |    )::DOUBLE / sum(c), 6), 0.999999) AS lam FROM j),
        |i2 AS (
        |  SELECT least(round(sum(c::DECIMAL(18,0) *
        |      round((lam * pml) / (lam * pml + (1.0 - lam) * pbo), 12)::DECIMAL(14,12)
        |    )::DOUBLE / sum(c), 6), 0.999999) AS lam FROM j CROSS JOIN i1),
        |i3 AS (
        |  SELECT least(round(sum(c::DECIMAL(18,0) *
        |      round((lam * pml) / (lam * pml + (1.0 - lam) * pbo), 12)::DECIMAL(14,12)
        |    )::DOUBLE / sum(c), 6), 0.999999) AS lam FROM j CROSS JOIN i2)
        |SELECT 0::BIGINT AS iter, 0.5 AS lambda
        |UNION ALL SELECT 1::BIGINT, lam FROM i1
        |UNION ALL SELECT 2::BIGINT, lam FROM i2
        |UNION ALL SELECT 3::BIGINT, lam FROM i3
        |ORDER BY iter""".stripMargin,

    // both rankings replayed (q71's BM25 CTE, q50's cosine device),
    // then the RRF sum and the rank join-back
    "q150_rrf_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('customer', 'vector', 'spark', 'query')
        |       GROUP BY doc_id, w),
        |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |bm AS (
        |  SELECT doc_id,
        |    round(sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf /
        |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        |  FROM tf JOIN dfx USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
        |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |bmr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm),
        |dn AS (
        |  SELECT a.vec_id AS doc_id,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim
        |  FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  ORDER BY sim DESC, a.vec_id LIMIT 50),
        |dnr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rank FROM dn),
        |fused AS (
        |  SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf,
        |    count(*) AS n_lists
        |  FROM (SELECT * FROM bmr UNION ALL SELECT * FROM dnr)
        |  GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 15)
        |SELECT f.doc_id, b.rank AS bm25_rank, d.rank AS cosine_rank,
        |  f.n_lists, f.rrf
        |FROM fused f LEFT JOIN bmr b USING (doc_id) LEFT JOIN dnr d USING (doc_id)
        |ORDER BY f.rrf DESC, f.doc_id""".stripMargin,

    // Dirichlet QL, rank-equivalent form: matched-term sum + per-doc
    // length prior; query terms absent from the collection drop from
    // n_seen. mu = 2000.
    "q151_query_likelihood" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('customer', 'vector', 'spark', 'query')
        |       GROUP BY doc_id, w),
        |cf AS (SELECT w, sum(tf) AS cf FROM tf GROUP BY w),
        |stats AS (
        |  SELECT (SELECT sum(dl) FROM dl) AS tot,
        |    (SELECT count(*) FROM cf) AS n_seen),
        |matched AS (
        |  SELECT doc_id, sum(ln(1 + tf / (2000.0 * cf / s.tot))) AS m,
        |    count(*) AS n_terms_hit
        |  FROM tf JOIN cf USING (w) CROSS JOIN stats s
        |  GROUP BY doc_id)
        |SELECT dl.doc_id, coalesce(m.n_terms_hit, 0)::BIGINT AS n_terms_hit,
        |  round(coalesce(m.m, 0.0) + s.n_seen * ln(2000.0 / (dl.dl + 2000.0)), 6) AS ql
        |FROM dl LEFT JOIN matched m USING (doc_id) CROSS JOIN stats s
        |ORDER BY ql DESC, dl.doc_id LIMIT 15""".stripMargin,

    // decision replay (q138's device): expected edges stated per
    // doc_id shape — src host{K}.jp links site{K}.com (n = 2 on
    // doc_id%3=0, else 1), example.co.uk (always 1), and b{K}.test.ck
    // under the *.ck wildcard on odd doc_ids; the relative link
    // contributes nothing
    "q152_link_graph" ->
      """WITH e AS (
        |  SELECT 'host' || doc_id::VARCHAR || '.jp' AS src_domain,
        |    'site' || doc_id::VARCHAR || '.com' AS dst_domain,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END::BIGINT AS n_links
        |  FROM documents
        |  UNION ALL
        |  SELECT 'host' || doc_id::VARCHAR || '.jp', 'example.co.uk', 1::BIGINT
        |  FROM documents
        |  UNION ALL
        |  SELECT 'host' || doc_id::VARCHAR || '.jp',
        |    'b' || doc_id::VARCHAR || '.test.ck', 1::BIGINT
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT src_domain, dst_domain, n_links FROM e
        |ORDER BY src_domain, dst_domain""".stripMargin,

    "q153_domain_cap" ->
      """WITH d AS (
        |  SELECT 'site' || (doc_id % 8)::VARCHAR || '.com' AS domain,
        |    doc_id, n_chars,
        |    row_number() OVER (PARTITION BY doc_id % 8
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT domain, doc_id, n_chars FROM d WHERE rn <= 25
        |ORDER BY domain, n_chars DESC, doc_id""".stripMargin,

    // Mann-Whitney with average ranks over distinct-score groups:
    // cum = count strictly below the group, avg rank = cum + (n+1)/2
    "q154_binary_auc" ->
      """WITH t AS (
        |  SELECT n_chars::DOUBLE AS s,
        |    (len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) >= 40)::INT AS y
        |  FROM documents),
        |g AS (SELECT s, count(*) AS n, sum(y) AS np FROM t GROUP BY s),
        |o AS (
        |  SELECT *, coalesce(sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM g),
        |a AS (
        |  SELECT sum(np)::BIGINT AS n_pos, sum(n - np)::BIGINT AS n_neg,
        |    sum(np * (cum + (n + 1) / 2.0)) AS ranksum
        |  FROM o)
        |SELECT n_pos, n_neg,
        |  round((ranksum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
        |FROM a""".stripMargin,

    "q155_calibration" ->
      """WITH t AS (
        |  SELECT (doc_id * 131 % 997)::DOUBLE / 996.0 AS p,
        |    (doc_id * 613 % 997 < doc_id * 131 % 997)::INT AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(floor(p * 10)::INT, 9) AS bin, count(*) AS n,
        |    round(sum(p::DECIMAL(26,12))::DOUBLE / count(*), 6) AS mean_score,
        |    round(sum(y)::DOUBLE / count(*), 6) AS frac_pos
        |  FROM t GROUP BY 1),
        |e AS (
        |  SELECT round(sum(n * abs(frac_pos::DECIMAL(12,6) -
        |      mean_score::DECIMAL(12,6)))::DOUBLE / sum(n), 6) AS ece
        |  FROM b)
        |SELECT bin, n, mean_score, frac_pos, ece FROM b CROSS JOIN e
        |ORDER BY bin""".stripMargin,

    "q156_robots_gate" ->
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN '/private/page' || doc_id::VARCHAR
        |    WHEN 1 THEN '/public/page' || doc_id::VARCHAR
        |    WHEN 2 THEN '/a/b/c' || doc_id::VARCHAR
        |    WHEN 3 THEN '/g/x' || doc_id::VARCHAR
        |    ELSE '/files/doc' || doc_id::VARCHAR || '.pdf' END AS path,
        |  doc_id % 5 IN (1, 2) AS allowed,
        |  CASE doc_id % 5 WHEN 3 THEN 2.5 WHEN 2 THEN 1.0
        |    ELSE NULL END AS crawl_delay
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the greedy replayed as a recursive CTE: state = (ids, mmrs)
    // lists; each step picks argmax of round6(0.7*rel - 0.3*max sim
    // to selected) with the id tie-break, from independently computed
    // 6-dp rel/sims
    "q157_mmr_diversify" ->
      """WITH RECURSIVE
        |cand AS (
        |  SELECT a.vec_id AS id,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS rel,
        |    a.embedding::DOUBLE[] AS v
        |  FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  ORDER BY rel DESC, a.vec_id LIMIT 50),
        |pairs AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |  FROM cand a JOIN cand b ON a.id < b.id),
        |sel AS (
        |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS ids, CAST([] AS DOUBLE[]) AS ms
        |  UNION ALL
        |  SELECT step + 1, list_append(ids, pick.i), list_append(ms, pick.m)
        |  FROM sel s, LATERAL (
        |    SELECT {'i': id, 'm': mmr} AS pick FROM (
        |      SELECT c.id AS id,
        |        round(0.7 * c.rel - 0.3 * coalesce((
        |          SELECT max(p.sim) FROM pairs p
        |          WHERE (p.ia = c.id AND list_contains(s.ids, p.ib))
        |             OR (p.ib = c.id AND list_contains(s.ids, p.ia))), 0.0), 6) AS mmr
        |      FROM cand c WHERE NOT list_contains(s.ids, c.id))
        |    ORDER BY mmr DESC, id LIMIT 1) pick(pick)
        |  WHERE s.step < 10)
        |SELECT t.rank, t.doc_id, c.rel, t.mmr FROM (
        |  SELECT generate_subscripts(ids, 1) AS rank, unnest(ids) AS doc_id,
        |    unnest(ms) AS mmr
        |  FROM sel WHERE step = 10) t
        |JOIN cand c ON c.id = t.doc_id
        |ORDER BY t.rank""".stripMargin,

    // exact side: covariance of the 6-dp-quantized leading 4 dims via
    // DECIMAL sums; the eigen certification booleans are in-plan
    // proofs (literal TRUE here — the q65 device)
    "q158_pca_audit" ->
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding[1:4], 1) AS i,
        |    round(unnest(embedding[1:4])::DOUBLE, 6)::DECIMAL(12,6) AS x
        |  FROM embeddings),
        |p AS (
        |  SELECT a.i AS i, b.i AS j, count(*) AS np,
        |    sum(a.x) AS sx, sum(b.x) AS sy, sum(a.x * b.x) AS sxy
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i)
        |SELECT i, j,
        |  round((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / np) / np, 6) AS cov_q,
        |  TRUE AS orthonormal_ok, TRUE AS eig_desc_ok, TRUE AS proj_var_ok
        |FROM p ORDER BY i, j""".stripMargin,

    "q159_sentence_chunks" ->
      """WITH punct AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(text), '((?:\S+ ){4}\S+) ', '\1. ', 'g') AS t
        |  FROM documents),
        |marked AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(t, chr(1), ' ', 'g'),
        |    '([.!?])\s+', '\1' || chr(1), 'g') AS t
        |  FROM punct),
        |sents AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(1))) AS sentence,
        |    generate_subscripts(string_split(t, chr(1)), 1) AS sent_idx
        |  FROM marked),
        |toks AS (
        |  SELECT doc_id, sent_idx, sentence,
        |    len(list_filter(string_split_regex(lower(trim(sentence)), '\s+'),
        |      x -> x <> ''))::BIGINT AS t
        |  FROM sents WHERE trim(sentence) <> ''),
        |cums AS (
        |  SELECT *, coalesce(sum(t) OVER (PARTITION BY doc_id ORDER BY sent_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM toks)
        |SELECT doc_id, (cum // 40)::BIGINT AS chunk_id,
        |  count(*) AS n_sentences, sum(t)::BIGINT AS n_tokens,
        |  string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
        |FROM cums GROUP BY doc_id, cum // 40
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q160_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY n_tokens DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_tokens FROM c WHERE cum < 600
        |ORDER BY source, n_tokens DESC, doc_id""".stripMargin,

    "q161_pca_topk" ->
      """SELECT a.vec_id,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim,
        |  TRUE AS pca_recall_ok
        |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "q162_bm25_batch" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks WHERE len(toks) >= 1),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |queries AS (
        |  SELECT qid,
        |    CASE qid % 4 WHEN 0 THEN 'customer' WHEN 1 THEN 'vector'
        |      WHEN 2 THEN 'spark' ELSE 'query' END AS w1,
        |    CASE qid % 3 WHEN 0 THEN 'table' WHEN 1 THEN 'join'
        |      ELSE 'batch' END AS w2
        |  FROM range(12) t(qid)),
        |qt AS (SELECT qid, unnest([w1, w2]) AS w FROM queries),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN (SELECT DISTINCT w FROM qt)
        |       GROUP BY doc_id, w),
        |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |scored AS (
        |  SELECT qid, doc_id,
        |    round(sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf /
        |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25,
        |    count(*) AS n_terms_hit
        |  FROM qt JOIN tf USING (w) JOIN dfx USING (w) JOIN dl USING (doc_id)
        |  CROSS JOIN stats s
        |  GROUP BY qid, doc_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY bm25 DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT qid, doc_id, bm25, n_terms_hit FROM ranked WHERE rn <= 5
        |ORDER BY qid, bm25 DESC, doc_id""".stripMargin,

    // both BM25 passes + the expansion pick replayed: feedback docs
    // from pass 1, expansion = top-4 non-query terms by (count desc,
    // term), pass 2 over the union bag
    "q163_bm25_prf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
        |tf1 AS (SELECT doc_id, w, count(*) AS tf FROM words
        |        WHERE w IN ('customer', 'spark') GROUP BY doc_id, w),
        |dfx1 AS (SELECT w, count(*) AS df FROM tf1 GROUP BY w),
        |fb AS (
        |  SELECT doc_id,
        |    round(sum(ln(1 + (s.n_docs - dfx1.df + 0.5) / (dfx1.df + 0.5)) * tf1.tf /
        |      (tf1.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        |  FROM tf1 JOIN dfx1 USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
        |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10),
        |exp0 AS (
        |  SELECT w, count(*) AS n FROM words
        |  WHERE doc_id IN (SELECT doc_id FROM fb)
        |    AND w NOT IN ('customer', 'spark')
        |  GROUP BY w ORDER BY n DESC, w LIMIT 4),
        |expl AS (SELECT string_agg(w, ',' ORDER BY w) AS expanded FROM exp0),
        |bag AS (
        |  SELECT 'customer' AS w UNION SELECT 'spark'
        |  UNION SELECT w FROM exp0),
        |tf2 AS (SELECT doc_id, w, count(*) AS tf FROM words
        |        WHERE w IN (SELECT w FROM bag) GROUP BY doc_id, w),
        |dfx2 AS (SELECT w, count(*) AS df FROM tf2 GROUP BY w)
        |SELECT doc_id,
        |  round(sum(ln(1 + (s.n_docs - dfx2.df + 0.5) / (dfx2.df + 0.5)) * tf2.tf /
        |    (tf2.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25,
        |  count(*) AS n_terms_hit,
        |  (SELECT expanded FROM expl) AS expanded
        |FROM tf2 JOIN dfx2 USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "q164_column_profile" ->
      """WITH d AS (
        |  SELECT doc_id, nullif(lang, 'de') AS lang, source, n_chars
        |  FROM documents)
        |SELECT 'doc_id' AS "column", count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_nulls,
        |  count(DISTINCT doc_id) AS n_distinct,
        |  min(doc_id)::VARCHAR AS min_str, max(doc_id)::VARCHAR AS max_str
        |FROM d
        |UNION ALL
        |SELECT 'lang', count(*), count(*) - count(lang),
        |  count(DISTINCT lang), min(lang), max(lang) FROM d
        |UNION ALL
        |SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |  count(DISTINCT n_chars), min(n_chars)::VARCHAR,
        |  max(n_chars)::VARCHAR FROM d
        |UNION ALL
        |SELECT 'source', count(*), count(*) - count(source),
        |  count(DISTINCT source), min(source), max(source) FROM d
        |ORDER BY "column"""".stripMargin,

    "q165_pr_curve" ->
      """WITH t AS (
        |  SELECT n_chars::DOUBLE AS s,
        |    (len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) >= 40)::INT AS y
        |  FROM documents),
        |g AS (SELECT s, count(*) AS n, sum(y) AS np FROM t GROUP BY s),
        |tot AS (SELECT sum(np) AS p FROM g),
        |o AS (
        |  SELECT s, np,
        |    sum(np) OVER (ORDER BY s DESC) AS tp,
        |    sum(n) OVER (ORDER BY s DESC) AS cum
        |  FROM g),
        |c AS (
        |  SELECT s AS threshold, np, tp::BIGINT AS tp,
        |    (cum - tp)::BIGINT AS fp,
        |    round(tp::DOUBLE / cum, 6) AS prec,
        |    round(tp::DOUBLE / t.p, 6) AS recall
        |  FROM o CROSS JOIN tot t),
        |ap AS (
        |  SELECT round(sum(np * prec::DECIMAL(8,6))::DOUBLE /
        |    (SELECT p FROM tot), 6) AS ap
        |  FROM c)
        |SELECT threshold, tp, fp, prec, recall, (SELECT ap FROM ap) AS ap
        |FROM c ORDER BY threshold DESC""".stripMargin,

    // the identical chained-window funnel algebra, replayed
    "q166_funnel" ->
      """WITH e1 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events),
        |e2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        |  FROM e1),
        |e3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2
        |  FROM e2),
        |u AS (SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
        |      FROM e3 GROUP BY 1),
        |c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM u)
        |SELECT 1 AS step, 'view' AS event_type, n0 AS n_users,
        |  CASE WHEN n0 > 0 THEN round(n0::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END AS pct_of_first,
        |  CASE WHEN n0 > 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS pct_of_prev
        |FROM c
        |UNION ALL
        |SELECT 2, 'click', n1,
        |  CASE WHEN n0 > 0 THEN round(n1::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END,
        |  CASE WHEN n0 > 0 THEN round(n1::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END
        |FROM c
        |UNION ALL
        |SELECT 3, 'purchase', n2,
        |  CASE WHEN n0 > 0 THEN round(n2::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END,
        |  CASE WHEN n1 > 0 THEN round(n2::DOUBLE / n1, 6) ELSE 0.0::DOUBLE END
        |FROM c
        |ORDER BY step""".stripMargin,

    "q167_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk FROM events),
        |fw AS (SELECT u, min(wk) AS cohort_week FROM uw GROUP BY 1),
        |m AS (
        |  SELECT cohort_week,
        |    (date_diff('day', cohort_week, wk) / 7)::INT AS week_offset,
        |    count(*) AS n_users
        |  FROM uw JOIN fw USING (u) GROUP BY 1, 2),
        |s AS (
        |  SELECT *, max(CASE WHEN week_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_week) AS cohort_size
        |  FROM m)
        |SELECT cohort_week, week_offset, n_users, cohort_size,
        |  round(n_users::DOUBLE / cohort_size, 6) AS retention
        |FROM s ORDER BY cohort_week, week_offset""".stripMargin,

    // the salted join IS a plain inner join — the oracle says so
    "q168_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // DuckDB's jaro_winkler_similarity is an INDEPENDENT implementation
    // of the same published definition — the kernel is cross-checked,
    // not restated (the length prefilter is lossless, so the oracle
    // needn't replay it)
    "q169_fuzzy_links" ->
      """WITH d AS (
        |  SELECT p_name AS name, min(p_partkey) AS id,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part GROUP BY p_name),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a,
        |    b.name AS name_b,
        |    round(jaro_winkler_similarity(a.name, b.name), 6) AS sim
        |  FROM d a JOIN d b ON a.blk = b.blk AND a.id < b.id)
        |SELECT * FROM p WHERE sim >= 0.86 ORDER BY id_a, id_b""".stripMargin,

    "q170_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    coalesce(lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), '__end') AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, count(*) AS n FROM seq GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,

    // floor(epoch()) matches Spark's unix_timestamp second truncation;
    // terms quantized to DECIMAL(38,12) before summing (order-independent)
    "q171_decayed_score" ->
      """WITH ref AS (SELECT max(floor(epoch(ts))::BIGINT) AS now FROM events)
        |SELECT user_id,
        |  round((sum((value * pow(0.5,
        |      (now - floor(epoch(ts))::BIGINT) / (7.0 * 86400)))
        |    ::DECIMAL(38,12)))::DOUBLE, 6) AS decayed_score,
        |  count(*) AS n_events
        |FROM events, ref GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q172_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 95
        |      THEN 1 ELSE 0 END) AS conv,
        |    CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS v
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT
        |    count(*) FILTER (v = 'A') AS n_a,
        |    (sum(conv) FILTER (v = 'A'))::BIGINT AS conv_a,
        |    count(*) FILTER (v = 'B') AS n_b,
        |    (sum(conv) FILTER (v = 'B'))::BIGINT AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, round(conv_a::DOUBLE / n_a, 6) AS rate_a,
        |  n_b, conv_b, round(conv_b::DOUBLE / n_b, 6) AS rate_b,
        |  round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) /
        |    sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
        |      (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)) *
        |      (1.0 / n_a + 1.0 / n_b)), 6) AS z
        |FROM s""".stripMargin,

    "q173_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS day
        |  FROM ud),
        |dau AS (SELECT d AS day, count(DISTINCT u) AS dau FROM ud GROUP BY 1),
        |roll AS (
        |  SELECT day, count(DISTINCT u) AS rolling_active
        |  FROM ud, LATERAL (SELECT unnest(generate_series(d, d + INTERVAL 6 DAY,
        |    INTERVAL 1 DAY))::DATE AS day)
        |  GROUP BY 1)
        |SELECT s.day, coalesce(dau.dau, 0) AS dau,
        |  coalesce(roll.rolling_active, 0) AS rolling_active
        |FROM spine s LEFT JOIN dau USING (day) LEFT JOIN roll USING (day)
        |ORDER BY s.day""".stripMargin,

    "q174_key_skew" ->
      """WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
        |tot AS (SELECT sum(n) AS t FROM c),
        |top AS (
        |  SELECT o_custkey, n,
        |    row_number() OVER (ORDER BY n DESC, o_custkey::VARCHAR ASC) AS rank
        |  FROM c ORDER BY n DESC, o_custkey::VARCHAR ASC LIMIT 20)
        |SELECT rank, o_custkey, n,
        |  round(n::DOUBLE / t, 6) AS share,
        |  round((sum(n) OVER (ORDER BY rank))::DOUBLE / t, 6) AS cum_share
        |FROM top, tot ORDER BY rank""".stripMargin,

    "q175_churn_labels" ->
      """WITH ref AS (SELECT max(ts) AS mx FROM events),
        |u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN ts <= mx - INTERVAL 14 DAY THEN 1 ELSE 0 END) AS n_events_obs,
        |    max(CASE WHEN ts <= mx - INTERVAL 14 DAY THEN ts END) AS last_obs,
        |    max(mx - INTERVAL 14 DAY) AS cut,
        |    max(CASE WHEN ts > mx - INTERVAL 14 DAY THEN 1 ELSE 0 END) AS post
        |  FROM events, ref GROUP BY user_id)
        |SELECT user_id, n_events_obs::BIGINT AS n_events_obs,
        |  date_diff('day', last_obs::DATE, cut::DATE)::INT AS days_since_last,
        |  (post = 0) AS churned
        |FROM u WHERE n_events_obs > 0 ORDER BY user_id""".stripMargin,

    // q166's chained-window funnel replayed, then the latency unpivot +
    // grouped quantile_cont — DuckDB's independent type-7 implementation
    // (the q139 device)
    "q176_funnel_latency" ->
      """WITH e1 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events),
        |e2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        |  FROM e1),
        |e3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2
        |  FROM e2),
        |u AS (SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
        |      FROM e3 GROUP BY 1),
        |l AS (
        |  SELECT 1 AS step, 'view' AS from_type, 'click' AS to_type,
        |    epoch(t1) - epoch(t0) AS lat FROM u WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT 2, 'click', 'purchase', epoch(t2) - epoch(t1)
        |  FROM u WHERE t2 IS NOT NULL),
        |a AS (
        |  SELECT step, from_type, to_type, quantile_cont(lat, [0.5, 0.9]) AS qa
        |  FROM l GROUP BY 1, 2, 3)
        |SELECT step, from_type, to_type, unnest([0.5, 0.9]) AS q,
        |  round(unnest(qa), 4) AS latency_sec
        |FROM a ORDER BY step, q""".stripMargin,

    // canonical a<b edges; triangles = wedge (x,y),(x,z) closed by (y,z)
    "q177_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |nn AS (
        |  SELECT count(DISTINCT x) AS n_nodes FROM (
        |    SELECT a AS x FROM e UNION ALL SELECT b FROM e)),
        |ne AS (SELECT count(*) AS n_edges FROM e),
        |tr AS (
        |  SELECT count(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tr""".stripMargin,

    "q178_adamic_adar" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        |adj AS (SELECT a AS z, b AS n FROM e0
        |        UNION ALL SELECT b AS z, a AS n FROM e0),
        |deg AS (SELECT z, count(*) AS d FROM adj GROUP BY z),
        |ctr AS (SELECT z, CAST(1.0/ln(d::DOUBLE) AS DECIMAL(38,12)) AS w
        |        FROM deg WHERE d BETWEEN 2 AND 60),
        |wedge AS (
        |  SELECT a1.n AS u, a2.n AS v, c.w
        |  FROM adj a1 JOIN ctr c ON a1.z = c.z
        |    JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n),
        |sc AS (SELECT u, v, count(*) AS cn, sum(w) AS s
        |       FROM wedge GROUP BY u, v),
        |nv AS (SELECT u, v, cn, s FROM sc WHERE NOT EXISTS
        |        (SELECT 1 FROM e0 WHERE e0.a = sc.u AND e0.b = sc.v))
        |SELECT u AS node_a, v AS node_b, cn AS common_neighbors,
        |  round(s::DOUBLE, 6) AS aa_score
        |FROM nv ORDER BY aa_score DESC, node_a, node_b LIMIT 50""".stripMargin,

    "q179_market_basket" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= 1000),
        |kept AS (SELECT bi.b, bi.i FROM bi SEMI JOIN ok ON bi.b = ok.b),
        |n AS (SELECT count(DISTINCT b) AS nb FROM kept),
        |ic AS (SELECT i, count(*) AS c FROM kept GROUP BY i),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_ab
        |      FROM kept a JOIN kept b ON a.b = b.b AND a.i < b.i
        |      GROUP BY a.i, b.i HAVING count(*) >= 2)
        |SELECT item_a, item_b, ca.c AS n_a, cb.c AS n_b, n_ab,
        |  round(n_ab::DOUBLE / nb, 6) AS support,
        |  round(n_ab::DOUBLE / ca.c, 6) AS conf_a_b,
        |  round(n_ab::DOUBLE / cb.c, 6) AS conf_b_a,
        |  round(n_ab::DOUBLE * nb / (ca.c * cb.c), 6) AS lift
        |FROM p JOIN ic ca ON p.item_a = ca.i JOIN ic cb ON p.item_b = cb.i
        |  CROSS JOIN n
        |ORDER BY lift DESC, item_a, item_b LIMIT 100""".stripMargin,

    "q180_pmi_collocations" ->
      """WITH g AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]
        |    END) AS bigram
        |  FROM (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |        FROM documents)),
        |c AS (SELECT bigram, count(*) AS n_ab FROM g GROUP BY bigram),
        |lc AS (SELECT string_split(bigram, ' ')[1] AS l,
        |         sum(n_ab)::BIGINT AS n_left FROM c GROUP BY 1),
        |rc AS (SELECT string_split(bigram, ' ')[-1] AS r,
        |         sum(n_ab)::BIGINT AS n_right FROM c GROUP BY 1),
        |tot AS (SELECT sum(n_ab) AS bb FROM c)
        |SELECT bigram, n_ab, n_left, n_right,
        |  round(ln(n_ab::DOUBLE * bb / (n_left * n_right)), 6) AS pmi
        |FROM c JOIN lc ON string_split(bigram, ' ')[1] = lc.l
        |  JOIN rc ON string_split(bigram, ' ')[-1] = rc.r
        |  CROSS JOIN tot
        |WHERE n_ab >= 5
        |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,

    "q181_survival" ->
      """WITH ev AS (SELECT user_id AS u,
        |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS t FROM events),
        |a AS (SELECT u, min(ms) AS anchor FROM ev WHERE t = 'signup' GROUP BY u),
        |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
        |       WHERE ev.t = 'purchase' AND ev.ms >= a.anchor GROUP BY ev.u),
        |mx AS (SELECT max(ms) AS fin FROM ev),
        |pu AS (SELECT CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e,
        |         floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT AS t
        |       FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
        |km AS (SELECT t, sum(e)::BIGINT AS n_events,
        |         sum(1 - e)::BIGINT AS n_censored FROM pu GROUP BY t),
        |w AS (SELECT t, n_events, n_censored,
        |        (sum(n_events + n_censored) OVER ()
        |          - coalesce(sum(n_events + n_censored) OVER
        |              (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND 1 PRECEDING), 0))::BIGINT AS n_at_risk FROM km),
        |s AS (SELECT *, CASE WHEN n_events < n_at_risk THEN
        |        CAST(ln(1 - n_events::DOUBLE / n_at_risk) AS DECIMAL(38,12))
        |        END AS lnq FROM w)
        |SELECT t, n_at_risk, n_events, n_censored,
        |  CASE WHEN n_events = n_at_risk THEN 0.0
        |    ELSE round(exp((sum(lnq) OVER (ORDER BY t ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE), 6)
        |  END AS survival
        |FROM s ORDER BY t""".stripMargin,

    "q182_anomaly_days" ->
      """WITH d AS (SELECT event_type AS key, ts::DATE AS dy, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |m AS (SELECT key, median(n) AS med FROM d GROUP BY key),
        |dev AS (SELECT d.key, dy, n, med, abs(n - med) AS ad
        |        FROM d JOIN m USING (key)),
        |md AS (SELECT key, median(ad) AS mad FROM dev GROUP BY key)
        |SELECT dev.key, dy AS day, n, med, mad,
        |  CASE WHEN mad > 0 THEN round(0.6745 * (n - med) / mad, 6) END AS robust_z,
        |  coalesce(abs(CASE WHEN mad > 0
        |    THEN round(0.6745 * (n - med) / mad, 6) END) > 2.5, false) AS is_anomaly
        |FROM dev JOIN md USING (key)
        |ORDER BY dev.key, dy""".stripMargin,

    "q183_attribution" ->
      """WITH c AS (SELECT event_id AS cid, user_id AS u,
        |             epoch_ms(ts)::BIGINT AS cms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS tid, user_id AS u,
        |        epoch_ms(ts)::BIGINT AS tms, event_type AS ch
        |      FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT cid, ch, tms, tid FROM c LEFT JOIN t
        |      ON c.u = t.u AND t.tms <= c.cms
        |        AND t.tms > c.cms - 259200000),
        |r AS (SELECT cid, coalesce(ch, '(direct)') AS ch,
        |        row_number() OVER (PARTITION BY cid ORDER BY tms, tid) AS rf,
        |        row_number() OVER (PARTITION BY cid ORDER BY tms DESC, tid DESC) AS rl
        |      FROM j),
        |ft AS (SELECT ch AS channel, count(*) AS nf FROM r WHERE rf = 1 GROUP BY 1),
        |lt AS (SELECT ch AS channel, count(*) AS nl FROM r WHERE rl = 1 GROUP BY 1)
        |SELECT coalesce(ft.channel, lt.channel) AS channel,
        |  coalesce(nf, 0) AS n_first_touch, coalesce(nl, 0) AS n_last_touch
        |FROM ft FULL JOIN lt ON ft.channel = lt.channel
        |ORDER BY channel""".stripMargin,

    "q184_entity_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT p_name AS name, min(p_partkey) AS id,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part GROUP BY p_name),
        |p AS (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM d a JOIN d b ON a.blk = b.blk AND a.id < b.id
        |  WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.86),
        |e AS (SELECT ia AS s, ib AS t FROM p UNION SELECT ib, ia FROM p),
        |reach(node, r) AS (
        |  SELECT s, s FROM e
        |  UNION
        |  SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.node),
        |lab AS (SELECT node, min(r) AS entity_id FROM reach GROUP BY node),
        |all_rows AS (
        |  SELECT d.id, d.name, coalesce(lab.entity_id, d.id) AS entity_id
        |  FROM d LEFT JOIN lab ON d.id = lab.node),
        |sz AS (SELECT entity_id, count(*) AS n_members
        |       FROM all_rows GROUP BY entity_id)
        |SELECT a.id, a.name, a.entity_id, sz.n_members
        |FROM all_rows a JOIN sz USING (entity_id)
        |ORDER BY a.id""".stripMargin,

    "q185_gini_revenue" ->
      """WITH spend AS (
        |  SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS x
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT x, row_number() OVER (ORDER BY x) - 1 AS r,
        |         count(*) OVER () AS n FROM spend),
        |b AS (SELECT floor(r * 10.0 / n)::INT AS bucket,
        |        count(*)::BIGINT AS n_rows,
        |        sum(CAST(x AS DECIMAL(38,12))) AS vsum,
        |        sum(CAST((r + 1) * x AS DECIMAL(38,12))) AS rxsum,
        |        max(n) AS n
        |      FROM rk GROUP BY 1)
        |SELECT bucket, n_rows AS n, round(vsum::DOUBLE, 6) AS value_sum,
        |  round((sum(vsum) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) / sum(vsum) OVER ())::DOUBLE, 6)
        |    AS cum_value_share,
        |  round(2.0 * (sum(rxsum) OVER ())::DOUBLE
        |      / (n * (sum(vsum) OVER ())::DOUBLE)
        |    - (n + 1.0) / n, 6) AS gini
        |FROM b ORDER BY bucket""".stripMargin,

    "q186_benford" ->
      """WITH v AS (
        |  SELECT regexp_extract(CAST(o_totalprice AS DECIMAL(38,12))::VARCHAR,
        |    '[1-9]', 0)::INT AS digit
        |  FROM orders WHERE CAST(o_totalprice AS DECIMAL(38,12)) > 0),
        |o AS (SELECT digit, count(*) AS n FROM v GROUP BY digit),
        |s AS (SELECT unnest(range(1, 10))::INT AS digit),
        |j AS (SELECT s.digit, coalesce(o.n, 0)::BIGINT AS n,
        |        ln(1 + 1.0 / s.digit) / ln(10) AS p
        |      FROM s LEFT JOIN o ON s.digit = o.digit),
        |w AS (SELECT *, sum(n) OVER () AS nn FROM j),
        |x AS (SELECT *, CAST((n - nn * p) * (n - nn * p) / (nn * p)
        |        AS DECIMAL(38,12)) AS chi FROM w)
        |SELECT digit, n, round(n / nn::DOUBLE, 6) AS observed_p,
        |  round(p, 6) AS expected_p,
        |  round((sum(chi) OVER ())::DOUBLE, 6) AS chi2
        |FROM x ORDER BY digit""".stripMargin,

    "q187_ses_forecast" ->
      """WITH d AS (SELECT event_type AS key, ts::DATE AS dy, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |r AS (SELECT key, dy, n,
        |        row_number() OVER (PARTITION BY key ORDER BY dy)::DOUBLE AS j,
        |        count(*) OVER (PARTITION BY key)::DOUBLE AS tt FROM d),
        |w AS (SELECT key, dy, n,
        |        CASE WHEN j = 1 THEN pow(0.7, tt - 1)
        |          ELSE 0.3 * pow(0.7, tt - j) END AS wt FROM r)
        |SELECT key, count(*)::BIGINT AS n_days,
        |  arg_max(n, dy) AS last_n,
        |  round(sum(CAST(wt * n AS DECIMAL(38,12)))::DOUBLE, 6) AS level
        |FROM w GROUP BY key ORDER BY key""".stripMargin,

    "q188_linear_attribution" ->
      """WITH c AS (SELECT event_id AS cid, user_id AS u,
        |             epoch_ms(ts)::BIGINT AS cms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS u, epoch_ms(ts)::BIGINT AS tms,
        |        event_type AS ch
        |      FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT cid, coalesce(ch, '(direct)') AS channel FROM c
        |      LEFT JOIN t ON c.u = t.u AND t.tms <= c.cms
        |        AND t.tms > c.cms - 259200000),
        |k AS (SELECT cid, channel,
        |        CAST(1.0::DOUBLE / count(*) OVER (PARTITION BY cid)
        |          AS DECIMAL(38,12)) AS share FROM j)
        |SELECT channel, count(*)::BIGINT AS n_touches,
        |  round(sum(share)::DOUBLE, 6) AS credit
        |FROM k GROUP BY channel ORDER BY channel""".stripMargin,

    "q189_zipf_fit" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM tk GROUP BY term
        |      ORDER BY freq DESC, term LIMIT 200),
        |r AS (SELECT ln(row_number() OVER (ORDER BY freq DESC, term)::DOUBLE)
        |        AS x, ln(freq::DOUBLE) AS y FROM c),
        |m AS (SELECT count(*)::DOUBLE AS n,
        |        sum(CAST(x AS DECIMAL(38,12)))::DOUBLE AS sx,
        |        sum(CAST(y AS DECIMAL(38,12)))::DOUBLE AS sy,
        |        sum(CAST(x * x AS DECIMAL(38,12)))::DOUBLE AS sxx,
        |        sum(CAST(y * y AS DECIMAL(38,12)))::DOUBLE AS syy,
        |        sum(CAST(x * y AS DECIMAL(38,12)))::DOUBLE AS sxy
        |      FROM r)
        |SELECT n::BIGINT AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
        |    AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin,

    "q190_bloom_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q191_clustering_coef" ->
      """WITH e AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        |deg AS (SELECT n, count(*) AS degree FROM (
        |  SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |nt AS (SELECT n, count(*) AS triangles FROM (
        |  SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY n)
        |SELECT deg.n AS node, degree,
        |  coalesce(triangles, 0)::BIGINT AS triangles,
        |  CASE WHEN degree >= 2 THEN
        |    round(2.0 * coalesce(triangles, 0) / (degree * (degree - 1)), 6)
        |    ELSE 0.0 END AS local_cc
        |FROM deg LEFT JOIN nt ON deg.n = nt.n
        |ORDER BY degree DESC, node LIMIT 50""".stripMargin,

    "q192_funnel_within" ->
      """WITH e1 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events),
        |e2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
        |      AND epoch_ms(ts) <= epoch_ms(t0) + 86400000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        |  FROM e1),
        |e3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
        |      AND epoch_ms(ts) <= epoch_ms(t1) + 86400000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2
        |  FROM e2),
        |u AS (SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
        |      FROM e3 GROUP BY 1),
        |c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM u)
        |SELECT 1 AS step, 'view' AS event_type, n0 AS n_users,
        |  CASE WHEN n0 > 0 THEN round(n0::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END AS pct_of_first,
        |  CASE WHEN n0 > 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS pct_of_prev
        |FROM c
        |UNION ALL
        |SELECT 2, 'click', n1,
        |  CASE WHEN n0 > 0 THEN round(n1::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END,
        |  CASE WHEN n0 > 0 THEN round(n1::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END
        |FROM c
        |UNION ALL
        |SELECT 3, 'purchase', n2,
        |  CASE WHEN n0 > 0 THEN round(n2::DOUBLE / n0, 6) ELSE 0.0::DOUBLE END,
        |  CASE WHEN n1 > 0 THEN round(n2::DOUBLE / n1, 6) ELSE 0.0::DOUBLE END
        |FROM c
        |ORDER BY step""".stripMargin,

    "q193_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn, ts, event_id
        |  FROM events),
        |p AS (SELECT user_id,
        |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |      FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 40""".stripMargin,

    "q194_rfm" ->
      """WITH now_d AS (SELECT max(o_orderdate::DATE) AS nd FROM orders),
        |m AS (SELECT o_custkey AS customer,
        |        min(datediff('day', o_orderdate::DATE, nd))::INT
        |          AS recency_days,
        |        count(*) AS frequency,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS monetary
        |      FROM orders CROSS JOIN now_d GROUP BY 1),
        |q AS (SELECT
        |        quantile_cont(recency_days, [0.2,0.4,0.6,0.8]) AS qr,
        |        quantile_cont(frequency,    [0.2,0.4,0.6,0.8]) AS qf,
        |        quantile_cont(monetary,     [0.2,0.4,0.6,0.8]) AS qm
        |      FROM m)
        |SELECT customer, recency_days, frequency, monetary,
        |  (1 + (recency_days < qr[1])::INT + (recency_days < qr[2])::INT
        |     + (recency_days < qr[3])::INT + (recency_days < qr[4])::INT)
        |    AS r_score,
        |  (1 + (frequency > qf[1])::INT + (frequency > qf[2])::INT
        |     + (frequency > qf[3])::INT + (frequency > qf[4])::INT)
        |    AS f_score,
        |  (1 + (monetary > qm[1])::INT + (monetary > qm[2])::INT
        |     + (monetary > qm[3])::INT + (monetary > qm[4])::INT)
        |    AS m_score
        |FROM m CROSS JOIN q ORDER BY customer""".stripMargin,

    "q195_geo_knn" ->
      """WITH tgt AS (SELECT c_custkey AS t_id,
        |    (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
        |    (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        |  FROM customer),
        |qry AS (SELECT s_suppkey AS q_id,
        |    (s_suppkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
        |    (s_suppkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        |  FROM supplier),
        |off AS (SELECT unnest([-1, 0, 1]) AS d),
        |qx AS (SELECT q_id, qry.lat AS qlat, qry.lon AS qlon,
        |         floor(qry.lat / 10.0)::BIGINT + da.d AS cla,
        |         ((floor((qry.lon + 180.0) / 10.0)::BIGINT + db.d) % 36
        |           + 36) % 36 AS clo
        |       FROM qry, off da, off db),
        |tx AS (SELECT t_id, lat AS tlat, lon AS tlon,
        |         floor(lat / 10.0)::BIGINT AS cla,
        |         (floor((lon + 180.0) / 10.0)::BIGINT % 36 + 36) % 36
        |           AS clo FROM tgt),
        |j AS (SELECT q_id, t_id,
        |        round(2 * 6371.0088 * asin(sqrt(
        |          sin(radians(tlat - qlat) / 2) * sin(radians(tlat - qlat) / 2)
        |          + cos(radians(qlat)) * cos(radians(tlat))
        |            * sin(radians(tlon - qlon) / 2)
        |            * sin(radians(tlon - qlon) / 2))), 6) AS distance_km
        |      FROM qx JOIN tx USING (cla, clo)),
        |r AS (SELECT q_id, t_id, distance_km, row_number() OVER
        |        (PARTITION BY q_id ORDER BY distance_km, t_id) AS rk
        |      FROM j)
        |SELECT q_id, rk::INT AS rank, t_id, distance_km
        |FROM r WHERE rk <= 3 ORDER BY q_id, rank""".stripMargin,

    "q196_seasonality" ->
      """WITH d AS (SELECT event_type AS key, ts::DATE AS dy, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |o AS (SELECT key, sum(n) AS tot, count(*) AS days FROM d GROUP BY key),
        |w AS (SELECT d.key, dayofweek(dy) + 1 AS dow,
        |        count(*)::BIGINT AS n_days, sum(n) AS dsum
        |      FROM d GROUP BY 1, 2)
        |SELECT w.key, dow, n_days,
        |  round(dsum / n_days::DOUBLE, 6) AS mean_n,
        |  round((dsum / n_days::DOUBLE) / (tot / days::DOUBLE), 6)
        |    AS seasonal_index
        |FROM w JOIN o ON w.key = o.key
        |ORDER BY w.key, dow""".stripMargin,

    "q197_cusum" ->
      """WITH d AS (SELECT event_type AS key, ts::DATE AS dy, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |m AS (SELECT key, sum(n) / count(*)::DOUBLE AS mean FROM d GROUP BY key),
        |c AS (SELECT d.key, dy, n,
        |        (sum(CAST(n - mean AS DECIMAL(38,12))) OVER
        |          (PARTITION BY d.key ORDER BY dy ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW))::DOUBLE AS cusum
        |      FROM d JOIN m ON d.key = m.key),
        |p AS (SELECT key, dy AS change_day, round(abs(cusum), 6)
        |        AS max_abs_cusum,
        |        row_number() OVER (PARTITION BY key
        |          ORDER BY abs(cusum) DESC, dy) AS rn
        |      FROM c)
        |SELECT c.key, change_day, max_abs_cusum,
        |  round(avg(CASE WHEN dy <= change_day THEN n END), 6) AS mean_before,
        |  round(avg(CASE WHEN dy > change_day THEN n END), 6) AS mean_after
        |FROM c JOIN (SELECT * FROM p WHERE rn = 1) p ON c.key = p.key
        |GROUP BY c.key, change_day, max_abs_cusum
        |ORDER BY c.key""".stripMargin,

    "q198_join_size_probe" ->
      """WITH la AS (SELECT o_orderkey::VARCHAR AS k, count(*) AS ca
        |            FROM orders GROUP BY 1),
        |rb AS (SELECT l_orderkey::VARCHAR AS k, count(*) AS cb
        |       FROM lineitem GROUP BY 1),
        |p AS (SELECT la.k, ca * cb AS rows_ FROM la JOIN rb ON la.k = rb.k),
        |top AS (SELECT k AS top_key, rows_ AS top_key_rows FROM p
        |        ORDER BY rows_ DESC, k LIMIT 1)
        |SELECT (SELECT count(*) FROM la) AS n_keys_left,
        |  (SELECT count(*) FROM rb) AS n_keys_right,
        |  count(*) AS n_keys_shared,
        |  coalesce(sum(rows_), 0)::BIGINT AS join_rows,
        |  top_key, top_key_rows,
        |  round(top_key_rows / coalesce(sum(rows_), 0)::DOUBLE, 6)
        |    AS top_key_share
        |FROM p CROSS JOIN top
        |GROUP BY top_key, top_key_rows""".stripMargin,

    "q199_percentile_norm" ->
      """SELECT doc_id, source, n_chars,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6)
        |    AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q200_tpch_q5" ->
      """SELECT n_name,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6))))::DOUBLE, 4)
        |    AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q201_tpch_q3" ->
      """SELECT l_orderkey,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6))))::DOUBLE, 4)
        |    AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q202_theil_sen" ->
      """WITH d AS (SELECT event_type AS key, ts::DATE AS dy, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |x0 AS (SELECT key, min(dy) AS d0, count(*)::BIGINT AS n_days
        |       FROM d GROUP BY key),
        |pts AS (SELECT d.key,
        |          datediff('day', d0, dy)::DOUBLE AS x, n::DOUBLE AS y
        |        FROM d JOIN x0 USING (key)),
        |pr AS (SELECT a.key, (b.y - a.y) / (b.x - a.x) AS s
        |       FROM pts a JOIN pts b ON a.key = b.key AND a.x < b.x),
        |sl AS (SELECT key, median(s) AS m FROM pr GROUP BY key),
        |rs AS (SELECT pts.key, y - m * x AS r FROM pts JOIN sl USING (key)),
        |ic AS (SELECT key, median(r) AS b FROM rs GROUP BY key)
        |SELECT x0.key, n_days, round(m, 6) AS slope,
        |  round(b, 6) AS intercept
        |FROM x0 JOIN sl USING (key) JOIN ic USING (key)
        |ORDER BY x0.key""".stripMargin,

    "q203_corr_matrix" ->
      """WITH m AS (SELECT
        |  count(*)::BIGINT AS n,
        |  sum(CAST(l_quantity::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s1,
        |  sum(CAST(l_extendedprice::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s2,
        |  sum(CAST(l_discount::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s3,
        |  sum(CAST(l_tax::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s4,
        |  sum(CAST(l_quantity::DOUBLE * l_quantity::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s11,
        |  sum(CAST(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s22,
        |  sum(CAST(l_discount::DOUBLE * l_discount::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s33,
        |  sum(CAST(l_tax::DOUBLE * l_tax::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s44,
        |  sum(CAST(l_quantity::DOUBLE * l_extendedprice::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s12,
        |  sum(CAST(l_quantity::DOUBLE * l_discount::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s13,
        |  sum(CAST(l_quantity::DOUBLE * l_tax::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s14,
        |  sum(CAST(l_extendedprice::DOUBLE * l_discount::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s23,
        |  sum(CAST(l_extendedprice::DOUBLE * l_tax::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s24,
        |  sum(CAST(l_discount::DOUBLE * l_tax::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS s34
        |  FROM lineitem)
        |SELECT col_a, col_b, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx)
        |      / sqrt(n * syy - sy * sy), 6) END AS r
        |FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
        |    s1 AS sx, s2 AS sy, s11 AS sxx, s22 AS syy, s12 AS sxy FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_discount', n, s1, s3, s11, s33, s13 FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_tax', n, s1, s4, s11, s44, s14 FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', n, s2, s3, s22, s33, s23 FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n, s2, s4, s22, s44, s24 FROM m
        |  UNION ALL SELECT 'l_discount', 'l_tax', n, s3, s4, s33, s44, s34 FROM m)
        |ORDER BY col_a, col_b""".stripMargin,

    "q204_chi2_indep" ->
      """WITH cells AS (
        |  SELECT c_mktsegment::VARCHAR AS a, c_nationkey::VARCHAR AS b,
        |    count(*) AS o
        |  FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
        |  GROUP BY 1, 2),
        |ma AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY a),
        |mb AS (SELECT b, sum(o)::BIGINT AS rb FROM cells GROUP BY b),
        |grid AS (SELECT ma.a, mb.b, ra, rb, coalesce(o, 0)::BIGINT AS o
        |         FROM ma CROSS JOIN mb
        |         LEFT JOIN cells ON cells.a = ma.a AND cells.b = mb.b),
        |g2 AS (SELECT *, sum(o) OVER ()::BIGINT AS nn FROM grid),
        |g3 AS (SELECT *, ra * rb / nn::DOUBLE AS e FROM g2),
        |g4 AS (SELECT *, CAST((o - e) * (o - e) / e AS DECIMAL(38,12)) AS chi
        |       FROM g3)
        |SELECT max(nn) AS n, count(DISTINCT a) AS n_a,
        |  count(DISTINCT b) AS n_b,
        |  (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
        |  round(sum(chi)::DOUBLE, 6) AS chi2,
        |  CASE WHEN least(count(DISTINCT a), count(DISTINCT b)) > 1 THEN
        |    round(sqrt((sum(chi)::DOUBLE / max(nn)::DOUBLE) /
        |      (least(count(DISTINCT a), count(DISTINCT b)) - 1)::DOUBLE),
        |      6) END AS cramers_v
        |FROM g4""".stripMargin,

    "q205_bfs_hops" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        |adj AS (SELECT a AS z, b AS n FROM e0
        |        UNION ALL SELECT b AS z, a AS n FROM e0),
        |seeds AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 200 = 0),
        |r(node, d) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT adj.n, r.d + 1 FROM r JOIN adj ON adj.z = r.node
        |  WHERE r.d < 3)
        |SELECT node, min(d)::INT AS dist FROM r GROUP BY node
        |ORDER BY dist, node""".stripMargin,

    "q206_abc_pareto" ->
      """WITH spend AS (
        |  SELECT o_custkey AS entity,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS v
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT entity, v,
        |        round((sum(CAST(v AS DECIMAL(38,12))) OVER (ORDER BY v DESC,
        |          entity ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          )::DOUBLE
        |          / (sum(CAST(v AS DECIMAL(38,12))) OVER ())::DOUBLE, 6)
        |          AS cum_share
        |      FROM spend)
        |SELECT entity, v AS value, cum_share,
        |  CASE WHEN cum_share <= 0.8 THEN 'A'
        |       WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
        |FROM r ORDER BY value DESC, entity""".stripMargin,

    "q207_confusion" ->
      """WITH s AS (
        |  SELECT n_chars::DOUBLE AS score,
        |    (len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) >= 40)::INT AS label
        |  FROM documents),
        |c AS (SELECT count(*)::BIGINT AS n,
        |        count(CASE WHEN score >= 220 AND label = 1 THEN 1 END)::BIGINT AS tp,
        |        count(CASE WHEN score >= 220 AND label <> 1 THEN 1 END)::BIGINT AS fp,
        |        count(CASE WHEN score < 220 AND label <> 1 THEN 1 END)::BIGINT AS tn,
        |        count(CASE WHEN score < 220 AND label = 1 THEN 1 END)::BIGINT AS fn
        |      FROM s)
        |SELECT n, tp, fp, tn, fn,
        |  round(CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END, 6)
        |    AS precision,
        |  round(CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END, 6)
        |    AS recall,
        |  round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END)
        |      + (CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END) > 0
        |    THEN 2.0 * (tp::DOUBLE / (tp + fp)) * (tp::DOUBLE / (tp + fn))
        |      / ((tp::DOUBLE / (tp + fp)) + (tp::DOUBLE / (tp + fn))) END, 6)
        |    AS f1,
        |  round((tp + tn)::DOUBLE / n, 6) AS accuracy,
        |  round(CASE WHEN sqrt((tp::DOUBLE + fp) * (tp::DOUBLE + fn)
        |      * (tn::DOUBLE + fp) * (tn::DOUBLE + fn)) > 0
        |    THEN (tp::DOUBLE * tn - fp::DOUBLE * fn)
        |      / sqrt((tp::DOUBLE + fp) * (tp::DOUBLE + fn)
        |        * (tn::DOUBLE + fp) * (tn::DOUBLE + fn)) END, 6) AS mcc
        |FROM c""".stripMargin,

    "q208_weighted_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        val p = s"pr${i - 1}"
        s"""c$i AS (
           |  SELECT e.dst AS node, sum(p.pr * e.w / d.outw) AS c
           |  FROM e JOIN $p p ON p.node = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |dm$i AS (
           |  SELECT coalesce(sum(p.pr), 0.0::DOUBLE) AS dm
           |  FROM $p p LEFT JOIN deg d ON d.src = p.node
           |  WHERE d.src IS NULL),
           |pr$i AS (
           |  SELECT n.node,
           |    (1.0::DOUBLE - 0.85::DOUBLE) / m.n +
           |      0.85::DOUBLE * (coalesce(c.c, 0.0::DOUBLE) + dm.dm / m.n) AS pr
           |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node, meta m, dm$i dm)"""
      }.mkString(",\n")
      s"""WITH p0 AS (
         |  SELECT least(a.l_partkey, b.l_partkey) AS p1,
         |    greatest(a.l_partkey, b.l_partkey) AS p2, count(*) AS w
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40
         |  GROUP BY 1, 2),
         |e AS (SELECT p1 AS src, p2 AS dst, w::DOUBLE AS w FROM p0
         |      UNION ALL SELECT p2, p1, w::DOUBLE FROM p0),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |meta AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |deg AS (SELECT src, sum(w)::DOUBLE AS outw FROM e GROUP BY src),
         |pr0 AS (SELECT node, 1.0::DOUBLE / m.n AS pr FROM nodes, meta m),
         |$rounds
         |SELECT node, round(pr, 6) AS pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 20""".stripMargin
    },

    "q209_salted_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q210_label_prop" -> {
      val rounds = (1 to 3).map { i =>
        val p = s"l${i - 1}"
        s"""c$i AS (
           |  SELECT adj.z AS node, lab.community AS nl, count(*) AS c
           |  FROM adj JOIN $p lab ON lab.node = adj.n GROUP BY 1, 2),
           |p$i AS (
           |  SELECT node, nl, row_number() OVER
           |    (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c$i),
           |l$i AS (SELECT node, nl AS community FROM p$i WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |adj AS (SELECT a AS z, b AS n FROM e0
         |        UNION ALL SELECT b AS z, a AS n FROM e0),
         |l0 AS (SELECT DISTINCT z AS node, z AS community FROM adj),
         |$rounds,
         |sz AS (SELECT community, count(*) AS size FROM l3 GROUP BY 1)
         |SELECT node, l3.community, size FROM l3 JOIN sz USING (community)
         |ORDER BY node""".stripMargin
    },

    "q211_hits" -> {
      val rounds = (1 to 3).map { i =>
        val h = s"h${i - 1}"
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.dst AS node,
           |    sum(CAST(h.hub AS DECIMAL(38,12)))::DOUBLE AS ra
           |  FROM e JOIN $h h ON h.node = e.src GROUP BY e.dst),
           |at$i AS (SELECT sum(CAST(ra AS DECIMAL(38,12)))::DOUBLE AS t
           |  FROM ar$i),
           |a$i AS MATERIALIZED (SELECT n.node,
           |    coalesce(ra, 0.0::DOUBLE) / t.t AS auth
           |  FROM nodes n LEFT JOIN ar$i USING (node), at$i t),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS node,
           |    sum(CAST(a.auth AS DECIMAL(38,12)))::DOUBLE AS rh
           |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
           |ht$i AS (SELECT sum(CAST(rh AS DECIMAL(38,12)))::DOUBLE AS t
           |  FROM hr$i),
           |h$i AS MATERIALIZED (SELECT n.node,
           |    coalesce(rh, 0.0::DOUBLE) / t.t AS hub
           |  FROM nodes n LEFT JOIN hr$i USING (node), ht$i t)"""
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |meta AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |h0 AS (SELECT node, 1.0::DOUBLE / m.n AS hub FROM nodes, meta m),
         |$rounds
         |SELECT h3.node, round(h3.hub, 6) AS hub,
         |  round(a3.auth, 6) AS authority
         |FROM h3 JOIN a3 ON h3.node = a3.node
         |ORDER BY authority DESC, h3.node LIMIT 20""".stripMargin
    },

    "q212_winsorize" ->
      """WITH q AS (SELECT quantile_cont(n_chars, [0.05, 0.95]) AS qq
        |           FROM documents)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars IS NOT NULL THEN
        |    least(greatest(n_chars::DOUBLE, qq[1]), qq[2]) END AS n_chars_w
        |FROM documents, q ORDER BY doc_id""".stripMargin,

    "q213_kcore" -> {
      // MATERIALIZED is load-bearing: each round references the
      // previous ~5x, so inlined CTEs would replicate the base
      // self-join 5^8 times (exhausts file handles before time)
      val rounds = (1 to 8).map { i =>
        val p = s"r${i - 1}"
        s"""k$i AS MATERIALIZED (
           |  SELECT n FROM (
           |    SELECT a AS n FROM $p UNION ALL SELECT b FROM $p)
           |  GROUP BY n HAVING count(*) >= 3),
           |r$i AS MATERIALIZED (
           |  SELECT $p.a, $p.b FROM $p
           |  SEMI JOIN k$i ka ON $p.a = ka.n
           |  SEMI JOIN k$i kb ON $p.b = kb.n)"""
      }.mkString(",\n")
      s"""WITH r0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |$rounds
         |SELECT n AS node, count(*)::BIGINT AS core_degree FROM (
         |  SELECT a AS n FROM r8 UNION ALL SELECT b FROM r8)
         |GROUP BY n HAVING count(*) >= 3 ORDER BY node""".stripMargin
    },

    "q214_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        |pr AS (
        |  SELECT da.d::DOUBLE AS x, db.d::DOUBLE AS y
        |  FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) ed
        |    JOIN deg da ON da.n = ed.a JOIN deg db ON db.n = ed.b),
        |m AS (SELECT count(*)::DOUBLE AS n,
        |  sum(CAST(x AS DECIMAL(38,12)))::DOUBLE AS sx,
        |  sum(CAST(y AS DECIMAL(38,12)))::DOUBLE AS sy,
        |  sum(CAST(x * x AS DECIMAL(38,12)))::DOUBLE AS sxx,
        |  sum(CAST(y * y AS DECIMAL(38,12)))::DOUBLE AS syy,
        |  sum(CAST(x * y AS DECIMAL(38,12)))::DOUBLE AS sxy FROM pr)
        |SELECT (n / 2)::BIGINT AS n_edges,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx)
        |      / sqrt(n * syy - sy * sy), 6) END AS assortativity
        |FROM m""".stripMargin,

    "q215_cohen_kappa" ->
      """WITH s AS (
        |  SELECT (lang = 'en')::INT AS a,
        |    (CASE WHEN len(list_filter(string_split_regex(lower(trim(text)),
        |        '\s+'), t -> t <> '')) = 0 THEN 0.0
        |      ELSE len(list_filter(list_filter(string_split_regex(
        |          lower(trim(text)), '\s+'), t -> t <> ''),
        |        t -> list_contains(['the','a','an','and','or','of','to',
        |          'in','is','it','that','for','on','with','as','was',
        |          'at','by','be','this'], t)))::DOUBLE
        |        / len(list_filter(string_split_regex(lower(trim(text)),
        |          '\s+'), t -> t <> ''))::DOUBLE END >= 0.05)::INT AS b
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |cells AS (SELECT a::VARCHAR AS ka, b::VARCHAR AS kb, count(*) AS o
        |          FROM s GROUP BY 1, 2),
        |nn AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |ag AS (SELECT coalesce(sum(o), 0)::BIGINT AS agree FROM cells
        |       WHERE ka = kb),
        |ma AS (SELECT ka AS k, sum(o)::BIGINT AS ra FROM cells GROUP BY 1),
        |mb AS (SELECT kb AS k, sum(o)::BIGINT AS rb FROM cells GROUP BY 1),
        |pe AS (SELECT coalesce(sum(CAST(ra * rb AS DECIMAL(38,0))),
        |         0::DECIMAL(38,0)) AS pn
        |       FROM ma JOIN mb USING (k))
        |SELECT n, round(agree / n::DOUBLE, 6) AS po,
        |  round(pn::DOUBLE / (n::DOUBLE * n::DOUBLE), 6) AS pe,
        |  round(CASE WHEN pn::DOUBLE / (n::DOUBLE * n::DOUBLE) < 1.0 THEN
        |    (agree / n::DOUBLE - pn::DOUBLE / (n::DOUBLE * n::DOUBLE))
        |    / (1.0 - pn::DOUBLE / (n::DOUBLE * n::DOUBLE)) END, 6) AS kappa
        |FROM nn, ag, pe""".stripMargin,

    "q216_bootstrap_ci" ->
      """WITH v AS (SELECT o_orderkey AS id, o_totalprice::DOUBLE AS x
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |pt AS (SELECT count(*)::BIGINT AS n,
        |         sum(CAST(x AS DECIMAL(38,12)))::DOUBLE / count(*) AS pm
        |       FROM v),
        |grp AS (SELECT unnest(range(0, 50))::BIGINT AS g),
        |hx AS (SELECT g, x, md5(id::VARCHAR || ':' || g::VARCHAR) AS h
        |       FROM v CROSS JOIN grp),
        |seg AS (SELECT 2 * g AS b, x, substring(h, 1, 13) AS hex FROM hx
        |        UNION ALL
        |        SELECT 2 * g + 1 AS b, x, substring(h, 14, 13) AS hex
        |        FROM hx),
        |wts AS (SELECT b, x, CASE
        |    WHEN hex < '5e2d58d8b3bce' THEN 0
        |    WHEN hex < 'bc5ab1b16779c' THEN 1
        |    WHEN hex < 'eb715e1dc1583' THEN 2
        |    WHEN hex < 'fb23979734a25' THEN 3
        |    WHEN hex < 'ff1025f59174e' THEN 4
        |    WHEN hex < 'ffd90f3ba4056' THEN 5
        |    ELSE 6 END AS w
        |  FROM seg WHERE b < 100),
        |means AS (SELECT b,
        |    sum(CAST(x * w AS DECIMAL(38,12)))::DOUBLE / sum(w) AS m
        |  FROM wts GROUP BY b),
        |ci AS (SELECT quantile_cont(m, [0.025, 0.975]) AS q FROM means)
        |SELECT n, round(pm, 6) AS point_mean, round(q[1], 6) AS ci_lo,
        |  round(q[2], 6) AS ci_hi, 100 AS replicas
        |FROM pt, ci""".stripMargin,

    // q115's chained-CTE unroll with the teleport term gated on the
    // seed flag: init = 1/ns on seeds else 0; each round's teleport and
    // dangling return land only on seeds. ns = |seed ∩ graph|.
    "q217_personalized_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        val p = s"pr${i - 1}"
        s"""c$i AS (
           |  SELECT e.dst AS node, sum(p.pr / d.outdeg) AS c
           |  FROM e JOIN $p p ON p.node = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |dm$i AS (
           |  SELECT coalesce(sum(p.pr), 0.0::DOUBLE) AS dm
           |  FROM $p p LEFT JOIN deg d ON d.src = p.node
           |  WHERE d.src IS NULL),
           |pr$i AS (
           |  SELECT n.node,
           |    CASE WHEN n.is_seed
           |      THEN (1.0::DOUBLE - 0.85::DOUBLE) / m.ns ELSE 0.0::DOUBLE END +
           |      0.85::DOUBLE * (coalesce(c.c, 0.0::DOUBLE) +
           |        CASE WHEN n.is_seed THEN dm.dm / m.ns ELSE 0.0::DOUBLE END) AS pr
           |  FROM nodesf n LEFT JOIN c$i c ON c.node = n.node, meta m, dm$i dm)"""
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |seeds AS (SELECT DISTINCT c_custkey AS node FROM customer
         |          WHERE c_nationkey = 7),
         |nodesf AS (
         |  SELECT n.node, s.node IS NOT NULL AS is_seed
         |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         |meta AS (SELECT count(*)::DOUBLE AS ns FROM nodesf WHERE is_seed),
         |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
         |pr0 AS (SELECT node, CASE WHEN is_seed THEN 1.0::DOUBLE / m.ns
         |                     ELSE 0.0::DOUBLE END AS pr
         |        FROM nodesf, meta m),
         |$rounds
         |SELECT node, round(pr, 6) AS pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 20""".stripMargin
    },

    // moments per variant (decimal-quantized), pooled theta algebra in
    // double, exactly the operator's op order
    "q218_cuped_abtest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END))::DOUBLE AS y,
        |    (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE AS x
        |  FROM events GROUP BY user_id),
        |v AS (SELECT *, CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
        |              THEN 'A' ELSE 'B' END AS variant FROM u),
        |m AS (SELECT variant, count(*)::BIGINT AS n,
        |    sum(CAST(x AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(y AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
        |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(y * y AS DECIMAL(38,12))) AS syy
        |  FROM v GROUP BY variant),
        |p AS (SELECT
        |    max(CASE WHEN variant = 'A' THEN n END) AS na,
        |    max(CASE WHEN variant = 'B' THEN n END) AS nb,
        |    (max(CASE WHEN variant = 'A' THEN sx END) +
        |      max(CASE WHEN variant = 'B' THEN sx END))::DOUBLE AS sx,
        |    (max(CASE WHEN variant = 'A' THEN sy END) +
        |      max(CASE WHEN variant = 'B' THEN sy END))::DOUBLE AS sy,
        |    (max(CASE WHEN variant = 'A' THEN sxy END) +
        |      max(CASE WHEN variant = 'B' THEN sxy END))::DOUBLE AS sxy,
        |    (max(CASE WHEN variant = 'A' THEN sxx END) +
        |      max(CASE WHEN variant = 'B' THEN sxx END))::DOUBLE AS sxx,
        |    (max(CASE WHEN variant = 'A' THEN syy END) +
        |      max(CASE WHEN variant = 'B' THEN syy END))::DOUBLE AS syy,
        |    max(CASE WHEN variant = 'A' THEN sx END)::DOUBLE AS sxa,
        |    max(CASE WHEN variant = 'B' THEN sx END)::DOUBLE AS sxb,
        |    max(CASE WHEN variant = 'A' THEN sy END)::DOUBLE AS sya,
        |    max(CASE WHEN variant = 'B' THEN sy END)::DOUBLE AS syb
        |  FROM m),
        |alg AS (SELECT *,
        |    (na + nb)::DOUBLE * sxy - sx * sy AS tnum,
        |    (na + nb)::DOUBLE * sxx - sx * sx AS tden,
        |    (na + nb)::DOUBLE * syy - sy * sy AS yden,
        |    sx / (na + nb)::DOUBLE AS xbar,
        |    sya / na::DOUBLE AS mean_a, syb / nb::DOUBLE AS mean_b,
        |    sxa / na::DOUBLE AS mxa, sxb / nb::DOUBLE AS mxb
        |  FROM p)
        |SELECT na AS n_a, nb AS n_b,
        |  round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
        |  round(CASE WHEN tden > 0
        |    THEN mean_a - (tnum / tden) * (mxa - xbar)
        |    ELSE mean_a END, 6) AS adj_mean_a,
        |  round(CASE WHEN tden > 0
        |    THEN mean_b - (tnum / tden) * (mxb - xbar)
        |    ELSE mean_b END, 6) AS adj_mean_b,
        |  round(CASE WHEN tden > 0 THEN tnum / tden END, 6) AS theta,
        |  round(CASE WHEN tden > 0 AND yden > 0
        |    THEN tnum * tnum / (tden * yden) END, 6) AS var_reduction
        |FROM alg""".stripMargin,

    // q205's recursive-CTE device with a composite (seed, node) key:
    // per-seed min distances, then the decimal-quantized 1/d fold
    "q219_harmonic_centrality" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
        |adj AS (SELECT a AS z, b AS n FROM e0
        |        UNION ALL SELECT b AS z, a AS n FROM e0),
        |seeds AS (SELECT p_partkey AS s FROM part WHERE p_partkey % 200 = 0),
        |r(s, node, d) AS (
        |  SELECT s, s, 0 FROM seeds
        |  UNION
        |  SELECT r.s, adj.n, r.d + 1 FROM r JOIN adj ON adj.z = r.node
        |  WHERE r.d < 3),
        |md AS (SELECT s, node, min(d) AS dist FROM r GROUP BY s, node)
        |SELECT node, count(*)::BIGINT AS n_reached,
        |  round(sum(CAST(1.0::DOUBLE / dist AS DECIMAL(38,12)))::DOUBLE, 6)
        |    AS harmonic
        |FROM md WHERE dist > 0 GROUP BY node ORDER BY node""".stripMargin,

    // every step re-walked: argmin md5("w:t:u:v") over the neighbors of
    // the walk's current node, tie-broken on the neighbor id
    "q220_random_walks" -> {
      val steps = (0 until 4).map { tStep =>
        val prev = s"w$tStep"
        s"""s${tStep + 1} AS (
           |  SELECT w.walk_id, a.n,
           |    row_number() OVER (PARTITION BY w.walk_id
           |      ORDER BY md5(w.walk_id::VARCHAR || ':$tStep:' ||
           |        w.node::VARCHAR || ':' || a.n::VARCHAR), a.n) AS rn
           |  FROM $prev w JOIN adj a ON a.z = w.node),
           |w${tStep + 1} AS (
           |  SELECT walk_id, n AS node FROM s${tStep + 1} WHERE rn = 1)"""
      }.mkString(",\n")
      val readout = (0 to 4).map(tStep =>
        s"SELECT walk_id, $tStep AS step, node FROM w$tStep")
        .mkString("\nUNION ALL\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |adj AS (SELECT a AS z, b AS n FROM e0
         |        UNION ALL SELECT b AS z, a AS n FROM e0),
         |w0 AS (SELECT p_partkey AS walk_id, p_partkey AS node FROM part
         |       WHERE p_partkey % 100 = 0),
         |$steps
         |$readout
         |ORDER BY walk_id, step""".stripMargin
    },

    // distinct-value CDF gap + the Kolmogorov series replayed term for
    // term in the operator's exact fold order (left-associated sum,
    // driver-constant sqrt factor, the small-lambda CASE)
    "q221_ks_drift" -> {
      val terms = (1 to 100).map { k =>
        val sign = if (k % 2 == 1) "2.0" else "-2.0"
        s"${sign}::DOUBLE * exp(${-2.0 * k * k}::DOUBLE * lam * lam)"
      }.mkString(" +\n        |    ")
      s"""WITH v AS (
         |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS g,
         |    n_chars::DOUBLE AS x
         |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         |grain AS (
         |  SELECT x, count(CASE WHEN g = 'en' THEN 1 END) AS ca,
         |    count(CASE WHEN g = 'other' THEN 1 END) AS cb
         |  FROM v GROUP BY x),
         |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
         |        FROM grain),
         |cdf AS (
         |  SELECT
         |    sum(ca) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
         |    sum(cb) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
         |  FROM grain),
         |dd AS (
         |  SELECT max(abs(cuma::DOUBLE / t.na - cumb::DOUBLE / t.nb)) AS d
         |  FROM cdf, tot t),
         |lamt AS (
         |  SELECT d, d * sqrt(t.na::DOUBLE * t.nb::DOUBLE /
         |    (t.na::DOUBLE + t.nb::DOUBLE)) AS lam
         |  FROM dd, tot t),
         |ser AS (SELECT d, lam,
         |    $terms AS s
         |  FROM lamt)
         |SELECT t.na AS n_a, t.nb AS n_b, round(ser.d, 6) AS d_stat,
         |  round(CASE WHEN ser.lam < 0.05 THEN 1.0::DOUBLE
         |    ELSE greatest(0.0::DOUBLE, least(1.0::DOUBLE, ser.s)) END, 6)
         |    AS p_value
         |FROM ser, tot t""".stripMargin
    },

    // rank-sum with mid-rank ties replayed on the distinct-value grain;
    // the z/p algebra and the A&S normal-tail polynomial mirror the
    // operator's exact double op order
    "q222_mann_whitney" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS g, o_totalprice::DOUBLE AS x
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |    AND o_totalprice IS NOT NULL),
        |grain AS (
        |  SELECT x, count(CASE WHEN g = '1-URGENT' THEN 1 END) AS ca,
        |    count(CASE WHEN g = '5-LOW' THEN 1 END) AS cb
        |  FROM v GROUP BY x),
        |rk AS (
        |  SELECT *, coalesce(sum(ca + cb) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM grain),
        |agg AS (
        |  SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
        |    sum(ca * (cum + (ca + cb + 1) / 2.0::DOUBLE)) AS ra,
        |    sum((ca + cb)::DECIMAL(38,0) * (ca + cb)::DECIMAL(38,0) *
        |      (ca + cb)::DECIMAL(38,0) - (ca + cb)::DECIMAL(38,0))::DOUBLE
        |      AS ties
        |  FROM rk),
        |alg AS (
        |  SELECT na, nb,
        |    ra - na::DOUBLE * (na + 1) / 2.0::DOUBLE AS ua,
        |    (na + nb)::DOUBLE AS bn, ties
        |  FROM agg),
        |alg2 AS (
        |  SELECT na, nb, ua, na::DOUBLE * nb::DOUBLE - ua AS ub,
        |    (ua - na::DOUBLE * nb::DOUBLE / 2.0::DOUBLE) /
        |      sqrt(na::DOUBLE * nb::DOUBLE / 12.0::DOUBLE *
        |        (bn + 1.0::DOUBLE - ties / (bn * (bn - 1.0::DOUBLE)))) AS z
        |  FROM alg),
        |phi AS (
        |  SELECT *, abs(z) AS ax,
        |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(z)) AS tt
        |  FROM alg2)
        |SELECT na AS n_a, nb AS n_b, round(ua, 6) AS u_a,
        |  round(ub, 6) AS u_b, round(z, 6) AS z,
        |  round(least(1.0::DOUBLE, 2.0::DOUBLE *
        |    (exp(-ax * ax / 2.0::DOUBLE) / sqrt(2.0::DOUBLE * pi()) *
        |      (tt * (0.319381530::DOUBLE + tt * (-0.356563782::DOUBLE +
        |        tt * (1.781477937::DOUBLE + tt * (-1.821255978::DOUBLE +
        |          tt * 1.330274429::DOUBLE))))))), 6) AS p_value
        |FROM phi""".stripMargin,

    // BH replay: distinct-p grain, raw = p*n/last-tie-rank, suffix min
    // descending, clamp at 1 — the exact double op order of the operator
    "q223_bh_fdr" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    ((doc_id * 2654435761) % 1000000)::DOUBLE / 999999.0::DOUBLE
        |      AS p
        |  FROM documents),
        |grain AS (SELECT p, count(*)::BIGINT AS c FROM v GROUP BY p),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM grain),
        |rk AS (
        |  SELECT p, p * t.n / (sum(c) OVER (ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS raw
        |  FROM grain, tot t),
        |q AS (
        |  SELECT p, least(1.0::DOUBLE, min(raw) OVER (ORDER BY p DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q_value
        |  FROM rk)
        |SELECT v.doc_id, v.p AS p_value, q.q_value
        |FROM v JOIN q ON v.p = q.p
        |ORDER BY v.doc_id""".stripMargin,

    // decimal moments per (group, period) cell, then the DiD algebra in
    // the operator's exact double op order
    "q224_diff_in_diff" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS g,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'p0_pre'
        |      ELSE 'p1_post' END AS p,
        |    CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0.0::DOUBLE END AS v
        |  FROM events),
        |unit AS (
        |  SELECT user_id, g, p, sum(CAST(v AS DECIMAL(38,12)))::DOUBLE AS y
        |  FROM u GROUP BY user_id, g, p),
        |cells AS (
        |  SELECT g, p, count(*)::BIGINT AS n,
        |    sum(CAST(y AS DECIMAL(38,12)))::DOUBLE AS sy,
        |    sum(CAST(y * y AS DECIMAL(38,12)))::DOUBLE AS syy
        |  FROM unit WHERE y IS NOT NULL GROUP BY g, p),
        |m AS (
        |  SELECT g, p, n, sy / n::DOUBLE AS mean,
        |    (n::DOUBLE * syy - sy * sy) / (n::DOUBLE * (n::DOUBLE - 1.0))
        |      AS vr
        |  FROM cells),
        |pv AS (SELECT
        |    max(CASE WHEN g='A' AND p='p0_pre' THEN n END) AS nap,
        |    max(CASE WHEN g='A' AND p='p1_post' THEN n END) AS napo,
        |    max(CASE WHEN g='B' AND p='p0_pre' THEN n END) AS nbp,
        |    max(CASE WHEN g='B' AND p='p1_post' THEN n END) AS nbpo,
        |    max(CASE WHEN g='A' AND p='p0_pre' THEN mean END) AS map,
        |    max(CASE WHEN g='A' AND p='p1_post' THEN mean END) AS mapo,
        |    max(CASE WHEN g='B' AND p='p0_pre' THEN mean END) AS mbp,
        |    max(CASE WHEN g='B' AND p='p1_post' THEN mean END) AS mbpo,
        |    max(CASE WHEN g='A' AND p='p0_pre' THEN vr END) AS vap,
        |    max(CASE WHEN g='A' AND p='p1_post' THEN vr END) AS vapo,
        |    max(CASE WHEN g='B' AND p='p0_pre' THEN vr END) AS vbp,
        |    max(CASE WHEN g='B' AND p='p1_post' THEN vr END) AS vbpo
        |  FROM m),
        |alg AS (
        |  SELECT *, mapo - map AS bd, mbpo - mbp AS td,
        |    (mbpo - mbp) - (mapo - map) AS eff,
        |    sqrt(vap / nap + vapo / napo + vbp / nbp + vbpo / nbpo) AS se
        |  FROM pv)
        |SELECT nap AS n_a_pre, napo AS n_a_post, nbp AS n_b_pre,
        |  nbpo AS n_b_post, round(bd, 6) AS baseline_diff,
        |  round(td, 6) AS treated_diff, round(eff, 6) AS effect,
        |  round(se, 6) AS se,
        |  CASE WHEN se > 0 THEN round(eff / se, 6) END AS t
        |FROM alg""".stripMargin,

    // the word-frequency spectrum per doc, all-integer moments, the
    // q154 token convention
    "q225_lexical_diversity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |wc AS (SELECT doc_id, w, count(*)::BIGINT AS m
        |       FROM toks GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, sum(m)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_types,
        |    sum(CASE WHEN m = 1 THEN 1 ELSE 0 END)::BIGINT AS v1,
        |    sum(m * m)::BIGINT AS sm2
        |  FROM wc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types,
        |  round(n_types::DOUBLE / n_tokens, 6) AS ttr,
        |  round(v1::DOUBLE / n_types, 6) AS hapax_share,
        |  round(10000.0::DOUBLE * (sm2 - n_tokens)::DOUBLE /
        |    (n_tokens * n_tokens), 6) AS yules_k
        |FROM agg ORDER BY doc_id""".stripMargin,

    // per-stratum 2x2 tables, decimal E/V/OR sums, the operator's exact
    // double algebra and A&S normal-tail polynomial
    "q226_cmh_test" ->
      """WITH conv AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |u AS (
        |  SELECT c_mktsegment AS s,
        |    CASE WHEN substring(md5(c_custkey::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS g,
        |    CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        |  FROM customer LEFT JOIN conv ON c_custkey = o_custkey),
        |st AS (
        |  SELECT s,
        |    sum(CASE WHEN g='A' AND y=1 THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN g='A' AND y=0 THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN g='B' AND y=1 THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN g='B' AND y=0 THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM u GROUP BY s),
        |st2 AS (SELECT *, (a + b + c + d)::BIGINT AS n FROM st
        |        WHERE a + b + c + d >= 2),
        |agg AS (
        |  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nu,
        |    sum(a)::BIGINT AS sa,
        |    sum(CAST((a + b)::DOUBLE * (a + c) / n::DOUBLE
        |      AS DECIMAL(38,12)))::DOUBLE AS se,
        |    sum(CAST((a + b)::DOUBLE * (c + d) * (a + c) * (b + d) /
        |      (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))
        |      AS DECIMAL(38,12)))::DOUBLE AS sv,
        |    sum(CAST(a::DOUBLE * d / n::DOUBLE
        |      AS DECIMAL(38,12)))::DOUBLE AS son,
        |    sum(CAST(b::DOUBLE * c / n::DOUBLE
        |      AS DECIMAL(38,12)))::DOUBLE AS sod
        |  FROM st2),
        |alg AS (SELECT *, (sa - se) * (sa - se) / sv AS x FROM agg),
        |phi AS (SELECT *, sqrt(x) AS ax,
        |  1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * sqrt(x)) AS tt
        |  FROM alg)
        |SELECT k AS n_strata, nu AS n_units, sa AS sum_a,
        |  round(x, 6) AS chi2,
        |  round(least(1.0::DOUBLE, 2.0::DOUBLE *
        |    (exp(-ax * ax / 2.0::DOUBLE) / sqrt(2.0::DOUBLE * pi()) *
        |      (tt * (0.319381530::DOUBLE + tt * (-0.356563782::DOUBLE +
        |        tt * (1.781477937::DOUBLE + tt * (-1.821255978::DOUBLE +
        |          tt * 1.330274429::DOUBLE))))))), 6) AS p_value,
        |  round(son / sod, 6) AS or_mh
        |FROM phi""".stripMargin,

    // per-covariate moments + SMD algebra in the operator's op order,
    // one UNION ALL block per covariate
    "q227_covariate_balance" -> {
      val blocks = Seq("engagement", "total_value", "n_events").map { cv =>
        s"""SELECT '$cv' AS covariate, na AS n_a, nb AS n_b,
           |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           |  round((ma - mb) / sqrt((va + vb) / 2.0::DOUBLE), 6) AS smd,
           |  abs(round((ma - mb) / sqrt((va + vb) / 2.0::DOUBLE), 6))
           |    > 0.1::DOUBLE AS imbalanced
           |FROM (
           |  SELECT
           |    max(CASE WHEN g = 'A' THEN n END)::BIGINT AS na,
           |    max(CASE WHEN g = 'B' THEN n END)::BIGINT AS nb,
           |    max(CASE WHEN g = 'A' THEN sx / n::DOUBLE END) AS ma,
           |    max(CASE WHEN g = 'B' THEN sx / n::DOUBLE END) AS mb,
           |    max(CASE WHEN g = 'A' THEN
           |      (n::DOUBLE * sxx - sx * sx) / (n::DOUBLE * (n::DOUBLE - 1.0))
           |      END) AS va,
           |    max(CASE WHEN g = 'B' THEN
           |      (n::DOUBLE * sxx - sx * sx) / (n::DOUBLE * (n::DOUBLE - 1.0))
           |      END) AS vb
           |  FROM (
           |    SELECT g, count($cv)::BIGINT AS n,
           |      sum(CAST($cv AS DECIMAL(38,12)))::DOUBLE AS sx,
           |      sum(CAST($cv * $cv AS DECIMAL(38,12)))::DOUBLE AS sxx
           |    FROM v GROUP BY g))"""
      }.mkString("\nUNION ALL\n")
      s"""WITH u AS (
         |  SELECT user_id,
         |    (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
         |      AS engagement,
         |    sum(CAST(value AS DECIMAL(38,12)))::DOUBLE AS total_value,
         |    count(*)::DOUBLE AS n_events
         |  FROM events GROUP BY user_id),
         |v AS (SELECT *, CASE WHEN substring(md5(user_id::VARCHAR), 1, 1)
         |        < '8' THEN 'A' ELSE 'B' END AS g FROM u)
         |$blocks
         |ORDER BY covariate""".stripMargin
    },

    // OLS normal-equation replay: the per-variant Gram moments
    // (decimal-exact, the q218 device), then olsAdjust's pivotless
    // Gauss-Jordan UNROLLED step by step — each CTE rebuilds the full
    // augmented matrix from the previous one with the operator's exact
    // expression shape (r_j − r_c·(c_j/pivot)), so every intermediate
    // double lands bit-identically and round(...,6) trivially agrees.
    "q228_ols_adjust" -> {
      val perUser =
        """SELECT CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
          |    THEN 'A' ELSE 'B' END AS v,
          |  (sum(CASE WHEN event_type = 'purchase' THEN value
          |       ELSE 0.0::DOUBLE END))::DOUBLE AS y,
          |  (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
          |    AS x0,
          |  (count(DISTINCT CAST(ts AS DATE)))::DOUBLE AS x1
          |FROM events GROUP BY user_id""".stripMargin
      olsOracleSql(perUser, 2, Seq("engagement", "active_days"))
    },

    // q210's unrolled LPA rounds, then the Newman algebra: e_c/m minus
    // the squared degree fraction, every division double-typed in the
    // operator's exact order.
    "q229_modularity" -> {
      val rounds = (1 to 3).map { i =>
        val p = s"l${i - 1}"
        s"""c$i AS (
           |  SELECT adj.z AS node, lab.community AS nl, count(*) AS c
           |  FROM adj JOIN $p lab ON lab.node = adj.n GROUP BY 1, 2),
           |p$i AS (
           |  SELECT node, nl, row_number() OVER
           |    (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c$i),
           |l$i AS (SELECT node, nl AS community FROM p$i WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |adj AS MATERIALIZED (SELECT a AS z, b AS n FROM e0
         |        UNION ALL SELECT b AS z, a AS n FROM e0),
         |l0 AS (SELECT DISTINCT z AS node, z AS community FROM adj),
         |$rounds,
         |lab AS MATERIALIZED (SELECT node, community FROM l3),
         |deg AS (SELECT z AS n, count(*)::BIGINT AS d FROM adj GROUP BY z),
         |m AS (SELECT count(*)::BIGINT AS m FROM e0),
         |intra AS (
         |  SELECT la.community AS community, count(*)::BIGINT AS e
         |  FROM e0 JOIN lab la ON la.node = e0.a
         |           JOIN lab lb ON lb.node = e0.b
         |  WHERE la.community = lb.community GROUP BY 1),
         |degc AS (
         |  SELECT lab.community, count(*)::BIGINT AS n_nodes,
         |    sum(d)::BIGINT AS degree_sum
         |  FROM deg JOIN lab ON lab.node = deg.n GROUP BY 1)
         |SELECT degc.community, n_nodes,
         |  coalesce(e, 0)::BIGINT AS intra_edges, degree_sum,
         |  (round((coalesce(e, 0)::DOUBLE / m::DOUBLE) -
         |    ((degree_sum::DOUBLE / (2.0::DOUBLE * m::DOUBLE)) *
         |     (degree_sum::DOUBLE / (2.0::DOUBLE * m::DOUBLE))), 6)
         |    + 0.0::DOUBLE) AS q_contrib
         |FROM degc LEFT JOIN intra USING (community), m
         |ORDER BY community""".stripMargin
    },

    // Unrolled min-plus rounds: each d_h = min(d_{h-1}, one-edge
    // relaxations of d_{h-1}) — full relaxation computes the same
    // distance set as the operator's frontier pruning, and path sums
    // accumulate left-to-right in both engines, so every double agrees.
    "q230_weighted_sssp" -> {
      val rounds = (1 to 4).map { h =>
        s"""d$h AS MATERIALIZED (
           |  SELECT seed, node, min(dist) AS dist FROM (
           |    SELECT seed, node, dist FROM d${h - 1}
           |    UNION ALL
           |    SELECT d.seed, adj.n AS node, (d.dist + adj.w) AS dist
           |    FROM d${h - 1} d JOIN adj ON adj.z = d.node)
           |  GROUP BY 1, 2)"""
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |w0 AS (SELECT a, b, ((a + b) % 9 + 1)::DOUBLE AS w FROM e0),
         |adj AS MATERIALIZED (
         |  SELECT a AS z, b AS n, w FROM w0
         |  UNION ALL SELECT b AS z, a AS n, w FROM w0),
         |d0 AS (SELECT p_partkey AS seed, p_partkey AS node,
         |    0.0::DOUBLE AS dist
         |  FROM part WHERE p_partkey % 200 = 0),
         |$rounds
         |SELECT seed, node, round(dist, 6) AS dist FROM d4
         |ORDER BY seed, node""".stripMargin
    },

    // q216's hash-weight replay with the group key threaded through:
    // per (replica, group) weighted means, paired diff per replica,
    // exact percentile pick; zero-weight replicas drop on both sides.
    "q231_bootstrap_diff" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (sum(CASE WHEN event_type = 'purchase' THEN value
        |         ELSE 0.0::DOUBLE END))::DOUBLE AS y
        |  FROM events GROUP BY user_id),
        |v AS (SELECT user_id AS id,
        |    CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS grp, y AS x
        |  FROM u WHERE y IS NOT NULL),
        |pt AS (SELECT grp, count(*)::BIGINT AS n,
        |    sum(CAST(x AS DECIMAL(38,12)))::DOUBLE / count(*) AS pm
        |  FROM v GROUP BY grp),
        |gr AS (SELECT unnest(range(0, 50))::BIGINT AS g),
        |hx AS (SELECT g, grp, x, md5(id::VARCHAR || ':' || g::VARCHAR) AS h
        |       FROM v CROSS JOIN gr),
        |seg AS (SELECT 2 * g AS b, grp, x, substring(h, 1, 13) AS hex
        |        FROM hx
        |        UNION ALL
        |        SELECT 2 * g + 1 AS b, grp, x, substring(h, 14, 13) AS hex
        |        FROM hx),
        |wts AS (SELECT b, grp, x, CASE
        |    WHEN hex < '5e2d58d8b3bce' THEN 0
        |    WHEN hex < 'bc5ab1b16779c' THEN 1
        |    WHEN hex < 'eb715e1dc1583' THEN 2
        |    WHEN hex < 'fb23979734a25' THEN 3
        |    WHEN hex < 'ff1025f59174e' THEN 4
        |    WHEN hex < 'ffd90f3ba4056' THEN 5
        |    ELSE 6 END AS w
        |  FROM seg WHERE b < 100),
        |means AS (SELECT b, grp,
        |    sum(CAST(x * w AS DECIMAL(38,12)))::DOUBLE / sum(w) AS m
        |  FROM wts GROUP BY b, grp),
        |diffs AS (SELECT b,
        |    max(CASE WHEN grp = 'B' THEN m END) -
        |    max(CASE WHEN grp = 'A' THEN m END) AS d
        |  FROM means GROUP BY b),
        |ci AS (SELECT quantile_cont(d, [0.025, 0.975]) AS q
        |       FROM diffs WHERE d IS NOT NULL)
        |SELECT pa.n AS n_a, pb.n AS n_b,
        |  round(pa.pm, 6) AS mean_a, round(pb.pm, 6) AS mean_b,
        |  round(pb.pm - pa.pm, 6) AS point_diff,
        |  round(q[1], 6) AS ci_lo, round(q[2], 6) AS ci_hi,
        |  100 AS replicas
        |FROM (SELECT * FROM pt WHERE grp = 'A') pa,
        |     (SELECT * FROM pt WHERE grp = 'B') pb, ci""".stripMargin,

    // holtWinters' fold replayed as a recursive CTE: state row
    // (t, l, b, s1..s7, error accumulators), each step the operator's
    // exact expression shapes; smoothing constants emitted via Scala's
    // round-trip toString so 1-α etc. land on the identical double.
    "q232_holt_winters" -> (hwOracleCte(7, 28, 0.4, 0.1, 0.2) +
      s"""
         |SELECT key, 28 AS n_days, round(l, 6) AS level,
         |  round(b, 6) AS trend, round(s1, 6) AS season_next,
         |  round(l + b + s1, 6) AS forecast
         |FROM hw WHERE t = 27 ORDER BY key""".stripMargin),

    // q155's bins with the Murphy-decomposition algebra: per-bin
    // rel/res terms DECIMAL-quantized before the order-free fold,
    // every division double-typed in the operator's exact order
    "q235_brier_decomposition" ->
      """WITH t AS (
        |  SELECT (doc_id * 131 % 997)::DOUBLE / 996.0 AS p,
        |    (doc_id * 613 % 997 < doc_id * 131 % 997)::INT AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(floor(p * 10)::INT, 9) AS bin,
        |    CAST(p AS DECIMAL(26,12)) AS s, y::BIGINT AS yy,
        |    CAST((p - y::DOUBLE) * (p - y::DOUBLE) AS DECIMAL(38,12))
        |      AS se
        |  FROM t WHERE p IS NOT NULL AND y IS NOT NULL),
        |pb AS (SELECT bin, count(*)::BIGINT AS n, sum(s) AS ss,
        |    sum(yy)::BIGINT AS sy, sum(se) AS sse
        |  FROM b GROUP BY bin),
        |tot AS (SELECT sum(n)::BIGINT AS nn, sum(sy)::BIGINT AS tsy,
        |    sum(sse) AS tsse FROM pb),
        |terms AS (SELECT t.nn, t.tsy, t.tsse,
        |    CAST(pb.n::DOUBLE *
        |      (((pb.ss::DOUBLE / pb.n) - (pb.sy::DOUBLE / pb.n)) *
        |       ((pb.ss::DOUBLE / pb.n) - (pb.sy::DOUBLE / pb.n)))
        |      AS DECIMAL(38,12)) AS relterm,
        |    CAST(pb.n::DOUBLE *
        |      (((pb.sy::DOUBLE / pb.n) - (t.tsy::DOUBLE / t.nn)) *
        |       ((pb.sy::DOUBLE / pb.n) - (t.tsy::DOUBLE / t.nn)))
        |      AS DECIMAL(38,12)) AS resterm
        |  FROM pb, tot t),
        |f AS (SELECT nn, tsy, tsse, sum(relterm) AS srel,
        |    sum(resterm) AS sres
        |  FROM terms GROUP BY nn, tsy, tsse)
        |SELECT nn AS n, 10 AS n_bins,
        |  round(tsse::DOUBLE / nn, 6) AS brier,
        |  round(srel::DOUBLE / nn, 6) AS reliability,
        |  round(sres::DOUBLE / nn, 6) AS resolution,
        |  round((tsy::DOUBLE / nn) * (1.0::DOUBLE - (tsy::DOUBLE / nn)), 6)
        |    AS uncertainty,
        |  round(tsse::DOUBLE / nn - srel::DOUBLE / nn + sres::DOUBLE / nn
        |    - (tsy::DOUBLE / nn) * (1.0::DOUBLE - (tsy::DOUBLE / nn)), 6)
        |    AS within_resid
        |FROM f""".stripMargin,

    // the minimax isotonic form replayed interval for interval: exact
    // integer prefix sums over the bin spine, Δ-ratio interval means,
    // max-of-min per bin — order-free min/max, identical doubles
    "q239_isotonic_calibration" ->
      """WITH t AS (
        |  SELECT (doc_id * 131 % 997)::DOUBLE / 996.0 AS p,
        |    (doc_id * 613 % 997 < doc_id * 131 % 997)::INT AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(floor(p * 10)::INT, 9) AS bin,
        |    count(*)::BIGINT AS n,
        |    sum(CAST(p AS DECIMAL(26,12))) AS ss, sum(y)::BIGINT AS sy
        |  FROM t WHERE p IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        |pr AS (
        |  SELECT bin, n, ss, sy,
        |    sum(n) OVER w AS cn, sum(sy) OVER w AS cy
        |  FROM b WINDOW w AS (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |iv AS (
        |  SELECT lo.bin AS j, hi.bin AS k,
        |    (hi.cy - (lo.cy - lo.sy))::DOUBLE /
        |    (hi.cn - (lo.cn - lo.n))::DOUBLE AS m
        |  FROM pr lo JOIN pr hi ON lo.bin <= hi.bin),
        |mm AS (
        |  SELECT i.bin AS bin, iv.j, min(iv.m) AS mn
        |  FROM pr i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
        |  GROUP BY 1, 2),
        |cal AS (SELECT bin, max(mn) AS calibrated FROM mm GROUP BY 1)
        |SELECT b.bin, b.n, round(b.ss::DOUBLE / b.n, 6) AS mean_score,
        |  round(b.sy::DOUBLE / b.n, 6) AS frac_pos,
        |  round(c.calibrated, 6) AS calibrated
        |FROM b JOIN cal c USING (bin) ORDER BY b.bin""".stripMargin,

    // unrolled peel rounds (MATERIALIZED — each round references the
    // previous several times), neighbor-intersection support per edge
    // (= its triangle count), idempotent past the fixpoint; final
    // support recomputed over the surviving truss
    "q238_ktruss" -> {
      val (k, rounds) = (5, 5)
      val peels = (1 to rounds).map { r =>
        s"""adj${r - 1} AS MATERIALIZED (
           |  SELECT a AS z, b AS n FROM e${r - 1}
           |  UNION ALL SELECT b AS z, a AS n FROM e${r - 1}),
           |sup${r - 1} AS MATERIALIZED (
           |  SELECT e.a, e.b, count(*) AS s
           |  FROM e${r - 1} e
           |  JOIN adj${r - 1} x ON x.z = e.a
           |  JOIN adj${r - 1} y ON y.z = e.b AND y.n = x.n
           |  GROUP BY e.a, e.b),
           |e$r AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e${r - 1} e
           |  LEFT JOIN sup${r - 1} s ON s.a = e.a AND s.b = e.b
           |  WHERE coalesce(s.s, 0) >= ${k - 2})"""
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |$peels,
         |adjF AS MATERIALIZED (
         |  SELECT a AS z, b AS n FROM e$rounds
         |  UNION ALL SELECT b AS z, a AS n FROM e$rounds),
         |supF AS (
         |  SELECT e.a, e.b, count(*) AS s
         |  FROM e$rounds e
         |  JOIN adjF x ON x.z = e.a
         |  JOIN adjF y ON y.z = e.b AND y.n = x.n
         |  GROUP BY e.a, e.b)
         |SELECT e.a, e.b, coalesce(s.s, 0)::BIGINT AS support
         |FROM e$rounds e LEFT JOIN supF s ON s.a = e.a AND s.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    },

    // q218's per-variant moments, then the mSPRT Λ algebra inline with
    // the kernel's exact op order; τ² emitted via round-trip toString
    "q237_msprt" -> {
      val t2 = (50.0 * 50.0).toString + "::DOUBLE"
      s"""WITH u AS (
         |  SELECT user_id,
         |    (sum(CASE WHEN event_type = 'purchase' THEN value
         |         ELSE 0.0::DOUBLE END))::DOUBLE AS y
         |  FROM events GROUP BY user_id),
         |v AS (SELECT y, CASE WHEN substring(md5(user_id::VARCHAR), 1, 1)
         |        < '8' THEN 'A' ELSE 'B' END AS g FROM u
         |      WHERE y IS NOT NULL),
         |m AS (SELECT g, count(*)::BIGINT AS n,
         |    sum(CAST(y AS DECIMAL(38,12)))::DOUBLE AS sy,
         |    sum(CAST(y * y AS DECIMAL(38,12)))::DOUBLE AS syy
         |  FROM v GROUP BY g),
         |p AS (SELECT
         |    max(CASE WHEN g = 'A' THEN n END)::BIGINT AS na,
         |    max(CASE WHEN g = 'B' THEN n END)::BIGINT AS nb,
         |    max(CASE WHEN g = 'A' THEN sy END) AS sya,
         |    max(CASE WHEN g = 'B' THEN sy END) AS syb,
         |    max(CASE WHEN g = 'A' THEN syy END) AS syya,
         |    max(CASE WHEN g = 'B' THEN syy END) AS syyb
         |  FROM m),
         |alg AS (SELECT na, nb,
         |    sya / na::DOUBLE AS mean_a, syb / nb::DOUBLE AS mean_b,
         |    (syb / nb::DOUBLE) - (sya / na::DOUBLE) AS d,
         |    ((na::DOUBLE * syya - sya * sya) /
         |      (na::DOUBLE * (na::DOUBLE - 1.0::DOUBLE))) / na::DOUBLE +
         |    ((nb::DOUBLE * syyb - syb * syb) /
         |      (nb::DOUBLE * (nb::DOUBLE - 1.0::DOUBLE))) / nb::DOUBLE
         |      AS vv
         |  FROM p),
         |lamb AS (SELECT *,
         |    sqrt(vv / (vv + $t2)) *
         |      exp(((d * d) * $t2) / ((2.0::DOUBLE * vv) * (vv + $t2)))
         |      AS lam
         |  FROM alg)
         |SELECT na AS n_a, nb AS n_b,
         |  round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
         |  round(d, 6) AS diff,
         |  CASE WHEN vv > 0.0::DOUBLE THEN round(vv, 6) END AS v,
         |  CASE WHEN vv > 0.0::DOUBLE THEN round(lam, 6) END AS lambda,
         |  CASE WHEN vv > 0.0::DOUBLE THEN round(
         |    least(1.0::DOUBLE, 1.0::DOUBLE / lam), 6) END AS p_always
         |FROM lamb""".stripMargin
    },

    // Brandes replayed hop for hop: forward levels l0..l3 carry exact
    // DECIMAL(38,0) path counts (anti-joined against the visited set),
    // backward d3..d0 fold each (sigma_v/sigma_w)(1+delta_w) term into
    // DECIMAL(38,12) before the per-(seed, v) sum — order-free both
    // engines, so the 6-dp readout is exact.
    "q236_betweenness" -> {
      val H = 3
      val fwd = (1 to H).map { h =>
        s"""c$h AS (
           |  SELECT l.seed, a.n AS node, sum(l.sigma) AS sigma
           |  FROM l${h - 1} l JOIN adj a ON a.z = l.node GROUP BY 1, 2),
           |l$h AS MATERIALIZED (
           |  SELECT c.seed, c.node, c.sigma FROM c$h c
           |  LEFT JOIN v${h - 1} v ON v.seed = c.seed AND v.node = c.node
           |  WHERE v.node IS NULL),
           |v$h AS MATERIALIZED (
           |  SELECT seed, node FROM v${h - 1}
           |  UNION ALL SELECT seed, node FROM l$h)"""
      }.mkString(",\n")
      val bwd = (H to 1 by -1).map { h =>
        s"""t$h AS (
           |  SELECT w.seed, a.n AS v,
           |    CAST((lv.sigma::DOUBLE / w.sigma::DOUBLE) *
           |      (1.0::DOUBLE + w.delta::DOUBLE) AS DECIMAL(38,12))
           |      AS term
           |  FROM d$h w JOIN adj a ON a.z = w.node
           |  JOIN l${h - 1} lv ON lv.seed = w.seed AND lv.node = a.n),
           |d${h - 1} AS MATERIALIZED (
           |  SELECT l.seed, l.node, l.sigma,
           |    coalesce(t.sd, CAST(0 AS DECIMAL(38,12))) AS delta
           |  FROM l${h - 1} l LEFT JOIN (
           |    SELECT seed, v, sum(term) AS sd FROM t$h GROUP BY 1, 2) t
           |    ON t.seed = l.seed AND t.v = l.node)"""
      }.mkString(",\n")
      val union = (1 to H).map(h =>
        s"SELECT seed, node, delta FROM d$h").mkString("\n  UNION ALL ")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40),
         |adj AS MATERIALIZED (
         |  SELECT a AS z, b AS n FROM e0
         |  UNION ALL SELECT b AS z, a AS n FROM e0),
         |l0 AS (SELECT p_partkey AS seed, p_partkey AS node,
         |    CAST(1 AS DECIMAL(38,0)) AS sigma
         |  FROM part WHERE p_partkey % 200 = 0),
         |v0 AS (SELECT seed, node FROM l0),
         |$fwd,
         |d$H AS MATERIALIZED (SELECT seed, node, sigma,
         |    CAST(0 AS DECIMAL(38,12)) AS delta FROM l$H),
         |$bwd
         |SELECT node, count(*)::BIGINT AS n_seeds,
         |  round(sum(delta)::DOUBLE, 6) AS dependency
         |FROM ($union)
         |GROUP BY node ORDER BY node""".stripMargin
    },

    // the same recursion's error accumulators read out: one-step-ahead
    // MAE/RMSE/MAPE per key, n_eval = numDays - seasonLen steps
    "q234_hw_backtest" -> (hwOracleCte(7, 28, 0.4, 0.1, 0.2) +
      s"""
         |SELECT key, 21 AS n_eval,
         |  round(sae / 21.0::DOUBLE, 6) AS mae,
         |  round(sqrt(sse / 21.0::DOUBLE), 6) AS rmse,
         |  CASE WHEN nz > 0.0::DOUBLE THEN round(sape / nz, 6) END
         |    AS mape
         |FROM hw WHERE t = 27 ORDER BY key""".stripMargin),

    // the olsFit replay over the explicit DiD design (exact 0/1 dummy
    // doubles + the covariate), shared elimination unroll
    "q233_did_adjusted" -> {
      val perRow =
        """SELECT y,
          |  CASE WHEN grp = 'B' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
          |    AS x0,
          |  CASE WHEN period = 'p1_post' THEN 1.0::DOUBLE
          |    ELSE 0.0::DOUBLE END AS x1,
          |  CASE WHEN grp = 'B' AND period = 'p1_post' THEN 1.0::DOUBLE
          |    ELSE 0.0::DOUBLE END AS x2,
          |  engagement AS x3
          |FROM (
          |  SELECT user_id,
          |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
          |      THEN 'p0_pre' ELSE 'p1_post' END AS period,
          |    (sum(CASE WHEN event_type = 'purchase' THEN value
          |         ELSE 0.0::DOUBLE END))::DOUBLE AS y,
          |    (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
          |      AS engagement,
          |    CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
          |      THEN 'A' ELSE 'B' END AS grp
          |  FROM events GROUP BY user_id, period, grp)""".stripMargin
      olsFitOracleSql(perRow, 4,
        Seq("treated", "post", "did_effect", "engagement"))
    },

    // Pattern-video arithmetic (q92's device): frames = durMs*24/1000,
    // sampled indices = every 6th, size_i = 600 + (seed*31+i)*7 % 900 —
    // the oracle rebuilds the sample selection without touching bytes.
    "q136_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, ((1000 + (doc_id % 10) * 500) * 24 // 1000)::INT AS frames
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, unnest(range(0, frames, 6)) AS i FROM f)
        |SELECT doc_id, count(*) AS n_sampled,
        |  sum(600 + (doc_id * 31 + i) * 7 % 900)::BIGINT AS sampled_bytes,
        |  max(i)::INT AS last_idx
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // replace-arithmetic: non-overlapping count = length drop / keyword
    // length — the kernel's pinned semantics, keyword by keyword.
    "q135_blocklist" ->
      """WITH p AS (
        |  SELECT doc_id, text || CASE doc_id % 3
        |    WHEN 0 THEN ' buy now buy now'
        |    WHEN 1 THEN ' totally free free offer'
        |    ELSE ' clean tail' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  ((length(t) - length(replace(t, 'buy now', ''))) / 7)::INT AS n_buy_now,
        |  ((length(t) - length(replace(t, 'free', ''))) / 4)::INT AS n_free,
        |  ((length(t) - length(replace(t, 'offer', ''))) / 5)::INT AS n_offer,
        |  (length(t) - length(replace(t, 'buy now', ''))) +
        |    (length(t) - length(replace(t, 'free', ''))) +
        |    (length(t) - length(replace(t, 'offer', ''))) > 0 AS flagged
        |FROM p ORDER BY doc_id""".stripMargin,

    // Full quadratic containment in DuckDB — same 4-gram sets, both
    // directions (the join is ordered/asymmetric).
    "q134_containment_join" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+3], ' ') FOR i IN range(1, len(toks)-2)]) AS sh
        |  FROM t WHERE len(toks) >= 4),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) AS c
        |  FROM s a JOIN s b ON a.doc_id <> b.doc_id)
        |SELECT doc_a, doc_b, round(c, 6) AS containment FROM p
        |WHERE c >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    // Same md5-prefix sort, doc_id tiebreak (first-8-hex collisions
    // would otherwise resolve differently under a full-md5 order).
    "q132_training_order" ->
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY substring(md5(doc_id::VARCHAR || ':7'), 1, 8), doc_id
        |  ) - 1 AS train_order
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Full expansion replay: epochs from source-id arithmetic, copies =
    // floor + md5-score fractional draw, one row per (doc, copy).
    "q133_apply_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    0.5 + (CAST(substr(source, 4) AS INT) % 4) * 0.75 AS epochs,
        |    (('0x' || substring(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT)::DOUBLE / 4294967296.0 AS score
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(floor(epochs) AS INT) +
        |      CASE WHEN score < epochs - floor(epochs) THEN 1 ELSE 0 END AS copies
        |  FROM d)
        |SELECT doc_id, source, CAST(unnest(range(copies)) AS INT) AS "copy"
        |FROM c WHERE copies > 0
        |ORDER BY doc_id, "copy"""".stripMargin,

    // Both engines run the classic unit-cost Levenshtein; lengths and
    // the division are identical integer/IEEE arithmetic, so equality
    // is exact (round(6) is belt and braces).
    "q131_edit_similarity" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(1.0 - levenshtein(a.text, b.text)::DOUBLE /
        |    greatest(length(a.text), length(b.text)), 6) AS edit_sim
        |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 150 AND b.doc_id < 150
        |  AND 1.0 - levenshtein(a.text, b.text)::DOUBLE /
        |    greatest(length(a.text), length(b.text)) >= 0.39
        |ORDER BY id_a, id_b""".stripMargin,

    // Planted HTTP+HTML wrapper: the oracle states the analytically
    // known extraction (status/content-type literals, text with the
    // title/h1 prefix and decoded-entity tail) — a parse or strip bug
    // on the Spark side breaks equality.
    "q129_http_extract" ->
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
        |  'Doc ' || doc_id::VARCHAR || ' ' || lang || ' ' ||
        |    regexp_replace(trim(text), '\s+', ' ', 'g') || ' & tail' AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Planted URLs, analytic oracle: the normalization is deterministic
    // arithmetic on doc_id/lang, so the oracle states the expected key
    // outright (sorted params a=1 < b=2 < ref=..., tracking stripped).
    "q130_url_normalize" ->
      """SELECT doc_id,
        |  'www.site' || (doc_id % 40)::VARCHAR || '.co.uk' AS host,
        |  'site' || (doc_id % 40)::VARCHAR || '.co.uk' AS domain,
        |  'https://www.site' || (doc_id % 40)::VARCHAR || '.co.uk/docs/' ||
        |    doc_id::VARCHAR || '?a=1&b=2&ref=' || lang AS normalized
        |FROM documents ORDER BY doc_id""".stripMargin,

    // TFRecord framing: 8-byte length + 4-byte len-CRC + payload +
    // 4-byte payload-CRC = octet_length + 16 per record.
    "q121_tfrecord_manifest" ->
      """WITH r AS (
        |  SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS rn
        |  FROM documents)
        |SELECT 'part-0-' || (rn // 64)::VARCHAR || '.tfrecord' AS shard,
        |  count(*) AS n_records,
        |  sum(octet_length(text::BLOB) + 16)::BIGINT AS n_bytes
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_contamination_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 6)) AS i, toks
        |  FROM toks WHERE len(toks) >= 8 AND doc_id % 10 <> 0),
        |grams AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS g FROM pos),
        |bench AS (
        |  SELECT DISTINCT unnest([array_to_string(toks[i:i+7], ' ') FOR i IN range(1, len(toks) - 6)]) AS g
        |  FROM toks WHERE doc_id % 10 = 0 AND len(toks) >= 8),
        |cov AS (SELECT doc_id, i - 1 AS p FROM grams JOIN bench USING (g)),
        |flagged AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 7 THEN 1 ELSE 0 END AS f
        |  FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |spans AS (
        |  SELECT doc_id, span, min(p) AS p1, max(p) AS p2 FROM (
        |    SELECT doc_id, p, sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS span
        |    FROM flagged)
        |  GROUP BY doc_id, span)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |  sum(p2 - p1 + 8)::BIGINT AS contaminated_tokens
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Independent BPE apply: segments ride <>-delimited brackets (the
    // corpus alphabet is bracket-free), so replace('<a><b>','<ab>') can
    // only fire on WHOLE adjacent segments — occurrences never share
    // characters, making one leftmost replace-all per merge exactly the
    // greedy Sennrich scan the Spark kernel runs over arrays. A shared
    // space-separated replace fold (the old oracle) could match across
    // segment boundaries and was circular with the old Spark impl.
    "q87_bpe_encode" -> {
      val enc = bpeMerges.foldLeft("""regexp_replace(w, '(.)', '<\1>', 'g')""") {
        case (acc, (a, b)) => s"replace($acc, '<$a><$b>', '<$a$b>')"
      }
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |words AS (SELECT doc_id, unnest(toks) AS w FROM toks),
         |docw AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
         |vocab AS (
         |  SELECT w, len(string_split(trim($enc, '<>'), '><'))::BIGINT AS wtoks
         |  FROM (SELECT DISTINCT w FROM docw))
         |SELECT doc_id, sum(c)::BIGINT AS n_words,
         |  sum(c * wtoks)::BIGINT AS n_bpe_tokens
         |FROM docw JOIN vocab USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q90_bpe_token_ids" -> {
      val enc = bpeMerges.foldLeft("""regexp_replace(w, '(.)', '<\1>', 'g')""") {
        case (acc, (a, b)) => s"replace($acc, '<$a><$b>', '<$a$b>')"
      }
      val vocabSql = bpeVocab.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |words AS (SELECT DISTINCT unnest(toks) AS w FROM toks),
         |wids AS (
         |  SELECT w, list_transform(string_split(trim($enc, '<>'), '><'),
         |    x -> coalesce(list_position($vocabSql, x) - 1, -1)) AS ids
         |  FROM words),
         |docseq AS (
         |  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS w
         |  FROM toks),
         |flat AS (
         |  SELECT doc_id, pos, generate_subscripts(ids, 1) AS sub,
         |    unnest(ids) AS token_id
         |  FROM docseq JOIN wids USING (w))
         |SELECT doc_id,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY pos, sub) - 1)::BIGINT AS seq_pos,
         |  token_id::BIGINT AS token_id
         |FROM flat ORDER BY doc_id, seq_pos""".stripMargin
    },

    "q88_snapshot_diff" ->
      """WITH bf AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 <> 0),
        |af AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT o_orderkey, op FROM (
        |  SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NULL THEN 'insert'
        |         WHEN a.o_orderkey IS NULL THEN 'delete'
        |         WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
        |           OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus THEN 'update'
        |         ELSE 'same' END AS op
        |  FROM bf b FULL OUTER JOIN af a ON b.o_orderkey = a.o_orderkey)
        |WHERE op <> 'same' ORDER BY o_orderkey""".stripMargin,

    // q181's per-user frame split into md5 arms, then the log-rank
    // O/E/V replay on the distinct-time grain: at-risk via windowed
    // prefix sums, every E/V term DECIMAL(38,12)-quantized before the
    // (order-free) sum, chi2/p in the operator's exact double order.
    "q240_logrank" ->
      """WITH ev AS (SELECT user_id AS u,
        |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
        |a AS (SELECT u, min(ms) AS anchor FROM ev
        |      WHERE et = 'signup' GROUP BY u),
        |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
        |       WHERE ev.et = 'purchase' AND ev.ms >= a.anchor
        |       GROUP BY ev.u),
        |mx AS (SELECT max(ms) AS fin FROM ev),
        |pu AS (SELECT
        |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS g,
        |    floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT AS t,
        |    CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e
        |  FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
        |grain AS (
        |  SELECT t, count(CASE WHEN g = 'A' THEN 1 END) AS la,
        |    count(CASE WHEN g = 'B' THEN 1 END) AS lb,
        |    sum(CASE WHEN g = 'A' THEN e ELSE 0 END) AS da,
        |    sum(CASE WHEN g = 'B' THEN e ELSE 0 END) AS db
        |  FROM pu GROUP BY t),
        |tot AS (SELECT sum(la + lb)::BIGINT AS n, sum(la)::BIGINT AS na
        |        FROM grain),
        |rk AS (
        |  SELECT g.*, t2.n, t2.na,
        |    t2.n - coalesce(sum(la + lb) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt,
        |    t2.na - coalesce(sum(la) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nat
        |  FROM grain g, tot t2),
        |rt AS (SELECT *, (da + db) AS dt,
        |         nat::DOUBLE / nt::DOUBLE AS fa FROM rk),
        |agg AS (
        |  SELECT max(n) AS n, max(na) AS na,
        |    sum(da)::BIGINT AS oa, sum(db)::BIGINT AS ob,
        |    sum(CAST(dt::DOUBLE * fa AS DECIMAL(38,12)))::DOUBLE AS ea,
        |    sum(CASE WHEN nt > 1 THEN
        |        CAST(dt::DOUBLE * fa * (1.0::DOUBLE - fa) *
        |          ((nt - dt)::DOUBLE / (nt - 1)::DOUBLE)
        |          AS DECIMAL(38,12))
        |      ELSE CAST(0.0 AS DECIMAL(38,12)) END)::DOUBLE AS v
        |  FROM rt),
        |chi AS (
        |  SELECT na AS n_a, (n - na) AS n_b, oa, ob, ea,
        |    CASE WHEN v > 0.0::DOUBLE THEN
        |      (oa::DOUBLE - ea) * (oa::DOUBLE - ea) / v END AS chi2
        |  FROM agg),
        |phi AS (
        |  SELECT *, sqrt(chi2) AS ax,
        |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * sqrt(chi2))
        |      AS tt
        |  FROM chi)
        |SELECT n_a, n_b, oa AS o_a, round(ea, 6) AS e_a, ob AS o_b,
        |  round((oa + ob)::DOUBLE - ea, 6) AS e_b,
        |  round(chi2, 6) AS chi2,
        |  CASE WHEN chi2 IS NOT NULL THEN
        |    round(least(1.0::DOUBLE, 2.0::DOUBLE *
        |      (exp(-ax * ax / 2.0::DOUBLE) / sqrt(2.0::DOUBLE * pi()) *
        |        (tt * (0.319381530::DOUBLE + tt * (-0.356563782::DOUBLE +
        |          tt * (1.781477937::DOUBLE + tt * (-1.821255978::DOUBLE +
        |            tt * 1.330274429::DOUBLE))))))), 6) END AS p_value
        |FROM phi""".stripMargin,

    // Mid-rank maps replayed per axis (windowed prefix sums over each
    // distinct-value grain), Pearson moments on the joined ranks with
    // exact DECIMAL(38,12) quantization (ranks are half-integers), the
    // rho/z/p algebra in the operator's double order.
    "q241_spearman" ->
      """WITH v AS (
        |  SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |gx AS (SELECT x, count(*) AS c FROM v GROUP BY x),
        |rx AS (SELECT x, coalesce(sum(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
        |    (c + 1) / 2.0::DOUBLE AS ra FROM gx),
        |gy AS (SELECT y, count(*) AS c FROM v GROUP BY y),
        |ry AS (SELECT y, coalesce(sum(c) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
        |    (c + 1) / 2.0::DOUBLE AS rb FROM gy),
        |j AS (SELECT ra, rb FROM v JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(CAST(ra AS DECIMAL(38,12)))::DOUBLE AS sx,
        |    sum(CAST(rb AS DECIMAL(38,12)))::DOUBLE AS sy,
        |    sum(CAST(ra * ra AS DECIMAL(38,12)))::DOUBLE AS sxx,
        |    sum(CAST(rb * rb AS DECIMAL(38,12)))::DOUBLE AS syy,
        |    sum(CAST(ra * rb AS DECIMAL(38,12)))::DOUBLE AS sxy
        |  FROM j),
        |alg AS (
        |  SELECT n,
        |    (n::DOUBLE * sxy - sx * sy) /
        |      (sqrt(n::DOUBLE * sxx - sx * sx) *
        |       sqrt(n::DOUBLE * syy - sy * sy)) AS rho
        |  FROM m
        |  WHERE (n::DOUBLE * sxx - sx * sx) > 0.0::DOUBLE
        |    AND (n::DOUBLE * syy - sy * sy) > 0.0::DOUBLE),
        |zz AS (SELECT n, rho, rho * sqrt(n::DOUBLE - 1.0::DOUBLE) AS z
        |       FROM alg),
        |phi AS (
        |  SELECT *, abs(z) AS ax,
        |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(z)) AS tt
        |  FROM zz)
        |SELECT n, round(rho, 6) AS rho, round(z, 6) AS z,
        |  round(least(1.0::DOUBLE, 2.0::DOUBLE *
        |    (exp(-ax * ax / 2.0::DOUBLE) / sqrt(2.0::DOUBLE * pi()) *
        |      (tt * (0.319381530::DOUBLE + tt * (-0.356563782::DOUBLE +
        |        tt * (1.781477937::DOUBLE + tt * (-1.821255978::DOUBLE +
        |          tt * 1.330274429::DOUBLE))))))), 6) AS p_value
        |FROM phi""".stripMargin,

    // Category-grain shares on each side of the cut, the operator's
    // exact psi/jsd term shapes (1e-6 clamp, 0·ln0 = 0), scalar totals
    // as DECIMAL(38,12)-quantized sums repeated per row.
    "q242_psi_drift" ->
      """WITH r AS (
        |  SELECT event_type::VARCHAR AS k, count(*) AS n_ref
        |  FROM events WHERE event_type IS NOT NULL
        |    AND ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |l AS (
        |  SELECT event_type::VARCHAR AS k, count(*) AS n_live
        |  FROM events WHERE event_type IS NOT NULL
        |    AND ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
        |j AS (
        |  SELECT coalesce(r.k, l.k) AS k,
        |    coalesce(n_ref, 0)::BIGINT AS n_ref,
        |    coalesce(n_live, 0)::BIGINT AS n_live
        |  FROM r FULL OUTER JOIN l ON r.k = l.k),
        |tot AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_live)::BIGINT AS tl
        |        FROM j),
        |b AS (SELECT k, n_ref, n_live,
        |        n_ref::DOUBLE / tr::DOUBLE AS p,
        |        n_live::DOUBLE / tl::DOUBLE AS q
        |      FROM j, tot),
        |t2 AS (SELECT *,
        |    (greatest(p, 1e-6) - greatest(q, 1e-6)) *
        |      ln(greatest(p, 1e-6) / greatest(q, 1e-6)) AS psi_t,
        |    (CASE WHEN p > 0.0::DOUBLE
        |        THEN p * ln(p / ((p + q) / 2.0::DOUBLE))
        |        ELSE 0.0::DOUBLE END +
        |     CASE WHEN q > 0.0::DOUBLE
        |        THEN q * ln(q / ((p + q) / 2.0::DOUBLE))
        |        ELSE 0.0::DOUBLE END) / 2.0::DOUBLE AS jsd_t
        |  FROM b),
        |s AS (SELECT
        |    sum(CAST(psi_t AS DECIMAL(38,12)))::DOUBLE AS psi,
        |    sum(CAST(jsd_t AS DECIMAL(38,12)))::DOUBLE AS jsd
        |  FROM t2)
        |SELECT k AS event_type, n_ref, n_live, round(p, 6) AS p_ref,
        |  round(q, 6) AS p_live, round(psi_t, 6) AS psi_term,
        |  round(jsd_t, 6) AS jsd_term, round(psi, 6) AS psi,
        |  round(jsd, 6) AS jsd
        |FROM t2, s ORDER BY event_type""".stripMargin,

    // ACF replay: lag terms via an index self-join (lag-k pairs), the
    // same decimal-quantized num/den, Ljung-Box cumulative terms over
    // the lag-ordered window in the operator's exact double order.
    "q243_acf" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (SELECT key, day, n,
        |    count(*) OVER (PARTITION BY key) AS cnt,
        |    (sum(CAST(n AS DECIMAL(38,12))) OVER (PARTITION BY key))
        |      ::DOUBLE / (count(*) OVER (PARTITION BY key))::DOUBLE
        |      AS mean
        |  FROM d),
        |b2 AS (SELECT *, (n::DOUBLE - mean) AS dev FROM b),
        |b3 AS (SELECT *,
        |    sum(CAST(dev * dev AS DECIMAL(38,12)))
        |      OVER (PARTITION BY key) AS den
        |  FROM b2),
        |i AS (SELECT *, row_number()
        |        OVER (PARTITION BY key ORDER BY day) AS idx FROM b3),
        |ks AS (SELECT unnest(range(1, 8)) AS lag),
        |lt AS (
        |  SELECT a.key, a.cnt, a.den, ks.lag, a.dev * p.dev AS term
        |  FROM i a JOIN ks ON TRUE
        |    JOIN i p ON p.key = a.key AND p.idx = a.idx - ks.lag),
        |rk AS (
        |  SELECT key, lag, max(cnt)::BIGINT AS n, max(den) AS den,
        |    sum(CAST(term AS DECIMAL(38,12))) AS num
        |  FROM lt GROUP BY key, lag),
        |r2 AS (SELECT key, lag, n,
        |    CASE WHEN den::DOUBLE > 0.0::DOUBLE
        |      THEN num::DOUBLE / den::DOUBLE END AS acf_raw
        |  FROM rk)
        |SELECT key, lag::INT AS lag, n, round(acf_raw, 6) AS acf,
        |  CASE WHEN acf_raw IS NOT NULL THEN
        |    round(n::DOUBLE * (n + 2)::DOUBLE *
        |      (sum(CAST(acf_raw * acf_raw / (n - lag)::DOUBLE
        |            AS DECIMAL(38,12)))
        |        OVER (PARTITION BY key ORDER BY lag
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |        ::DOUBLE, 6) END AS lb_q
        |FROM r2 ORDER BY key, lag""".stripMargin,

    // The unrolled-IRLS propensity fit (logitIrlsSql), then the Hajek
    // readout: clipped e, decimal-quantized weighted sums, the
    // mu1/mu0/ate divisions in the operator's exact double order.
    "q244_ipw_ate" -> {
      val eta = "((b.c0 + b.c1 * engagement) + b.c2 * active_days)"
      s"""${logitIrlsSql(errTreatPerRowSql, "t",
          Seq("engagement", "active_days"), 6)},
         |ef AS (SELECT *, least(greatest(mu, 0.01), 0.99) AS e FROM (
         |  SELECT u.*, 1.0::DOUBLE / (1.0::DOUBLE + exp(-$eta)) AS mu
         |  FROM u, b6 b)),
         |agg AS (SELECT count(*)::BIGINT AS n,
         |    sum(t::BIGINT)::BIGINT AS nt,
         |    sum(CAST(t / e AS DECIMAL(38,12)))::DOUBLE AS s1,
         |    sum(CAST(t * y / e AS DECIMAL(38,12)))::DOUBLE AS sy1,
         |    sum(CAST((1.0::DOUBLE - t) / (1.0::DOUBLE - e)
         |        AS DECIMAL(38,12)))::DOUBLE AS s0,
         |    sum(CAST((1.0::DOUBLE - t) * y / (1.0::DOUBLE - e)
         |        AS DECIMAL(38,12)))::DOUBLE AS sy0
         |  FROM ef)
         |SELECT n, nt AS n_treated, round(sy1 / s1, 6) AS mu_treated,
         |  round(sy0 / s0, 6) AS mu_control,
         |  round(sy1 / s1 - sy0 / s0, 6) AS ate
         |FROM agg""".stripMargin
    },

    // Same unrolled IRLS; per-term readout off the final betas +
    // elimination state (inverse-Hessian diag), z gated on rounded se
    // exactly like the operator.
    "q245_logistic_fit" -> {
      val rows = Seq("intercept", "engagement", "active_days")
        .zipWithIndex.map { case (tm, i) =>
          val se = s"sqrt(s.g_${i}_${4 + i})"
          s"""SELECT $i AS term_idx, '$tm' AS term, q.n AS n,
             |  round(b.c$i, 6) AS coef, round($se, 6) AS se,
             |  CASE WHEN round($se, 6) > 0.0::DOUBLE
             |    THEN round(b.c$i / $se, 6) END AS z_stat
             |FROM b6 b, e6_3 s, q6 q""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""${logitIrlsSql(errTreatPerRowSql, "t",
          Seq("engagement", "active_days"), 6)}
         |$rows
         |ORDER BY term_idx""".stripMargin
    },

    // The unrolled-IRLS propensity plus BOTH arms' OLS normal
    // equations unrolled (same elimination shapes), then the AIPW
    // score aggregation in the operator's exact double order.
    "q246_aipw_ate" -> {
      val xs = Seq("engagement", "active_days")
      val k = xs.size
      val p = k + 1
      val w = p + 1
      def armOls(tag: String, pred: String): String = {
        val d = "DECIMAL(38,12)"
        val mom = (Seq("count(*)::BIGINT AS n",
          s"sum(CAST(y AS $d))::DOUBLE AS sy") ++
          xs.indices.map(i =>
            s"sum(CAST(${xs(i)} AS $d))::DOUBLE AS sx$i") ++
          xs.indices.map(i =>
            s"sum(CAST(${xs(i)} * y AS $d))::DOUBLE AS sx${i}y") ++
          (for { i <- xs.indices; j <- i until k } yield
            s"sum(CAST(${xs(i)} * ${xs(j)} AS $d))::DOUBLE AS sx${i}x$j"))
          .mkString(",\n    ")
        def init(r: Int, j: Int): String = {
          def gram(a: Int, b: Int): String =
            if (a == 0 && b == 0) "n::DOUBLE"
            else if (a == 0) s"sx${b - 1}"
            else s"sx${math.min(a - 1, b - 1)}x${math.max(a - 1, b - 1)}"
          if (j < p) { if (j >= r) gram(r, j) else gram(j, r) }
          else { if (r == 0) "sy" else s"sx${r - 1}y" }
        }
        val g0 = (for { r <- 0 until p; j <- 0 until w }
          yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
        val steps = (0 until p).map { c =>
          val entries = (for { r <- 0 until p; j <- 0 until w } yield {
            val e2 =
              if (r == c) s"(g_${c}_$j / g_${c}_$c)"
              else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
            s"$e2 AS g_${r}_$j"
          }).mkString(",\n    ")
          val from = if (c == 0) s"${tag}0" else s"$tag$c"
          s"$tag${c + 1} AS (SELECT\n    $entries\n  FROM $from)"
        }.mkString(",\n")
        s"""q$tag AS MATERIALIZED (SELECT
           |    $mom
           |  FROM u WHERE $pred),
           |${tag}0 AS (SELECT
           |    $g0
           |  FROM q$tag),
           |$steps""".stripMargin
      }
      val eta = "((b.c0 + b.c1 * engagement) + b.c2 * active_days)"
      def linB(alias: String) =
        s"(($alias.g_0_$p + $alias.g_1_$p * engagement) + " +
          s"$alias.g_2_$p * active_days)"
      s"""${logitIrlsSql(errTreatPerRowSql, "t", xs, 6)},
         |${armOls("ea", "t = 1.0")},
         |${armOls("ec", "t = 0.0")},
         |ef AS (SELECT *, least(greatest(mu, 0.01), 0.99) AS e FROM (
         |  SELECT u.*, 1.0::DOUBLE / (1.0::DOUBLE + exp(-$eta)) AS mu
         |  FROM u, b6 b)),
         |sc AS (SELECT ef.*, ${linB("ta")} AS m1, ${linB("tc")} AS m0
         |       FROM ef, ea$p ta, ec$p tc),
         |agg AS (SELECT count(*)::BIGINT AS n,
         |    sum(t::BIGINT)::BIGINT AS nt,
         |    sum(CAST(m1 + t * (y - m1) / e AS DECIMAL(38,12)))::DOUBLE
         |      AS s1,
         |    sum(CAST(m0 + (1.0::DOUBLE - t) * (y - m0) /
         |        (1.0::DOUBLE - e) AS DECIMAL(38,12)))::DOUBLE AS s0
         |  FROM sc)
         |SELECT n, nt AS n_treated,
         |  round(s1 / n::DOUBLE, 6) AS mu_treated,
         |  round(s0 / n::DOUBLE, 6) AS mu_control,
         |  round(s1 / n::DOUBLE - s0 / n::DOUBLE, 6) AS ate
         |FROM agg""".stripMargin
    },

    // Descending score rank with doc_id tiebreak, long-arithmetic
    // bucket cut (double division truncated toward zero = floor on
    // nonnegatives), bucket-frame cumulative windows.
    "q247_lift_chart" ->
      """WITH v AS (
        |  SELECT doc_id AS id, (doc_id * 131 % 997)::DOUBLE / 996.0 AS s,
        |    (doc_id * 613 % 997 < doc_id * 131 % 997)::BIGINT AS y
        |  FROM documents),
        |tot AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT *, row_number() OVER (ORDER BY s DESC, id) - 1
        |        AS rk FROM v),
        |pb AS (
        |  SELECT floor((rk * 10)::DOUBLE / t.n::DOUBLE)::INT AS bucket,
        |    count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos
        |  FROM r, tot t GROUP BY 1),
        |c AS (SELECT *,
        |    sum(n_pos) OVER ()::BIGINT AS tpos,
        |    sum(n_pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS cpos,
        |    sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS cn
        |  FROM pb),
        |tot2 AS (SELECT sum(n)::BIGINT AS n FROM pb)
        |SELECT bucket, c.n, n_pos,
        |  round(n_pos::DOUBLE / c.n::DOUBLE, 6) AS response_rate,
        |  CASE WHEN tpos > 0 THEN
        |    round((n_pos::DOUBLE / c.n::DOUBLE) /
        |      (tpos::DOUBLE / t2.n::DOUBLE), 6) END AS lift,
        |  CASE WHEN tpos > 0 THEN
        |    round(cpos::DOUBLE / tpos::DOUBLE, 6) END AS cum_capture,
        |  CASE WHEN tpos > 0 THEN
        |    round((cpos::DOUBLE / cn::DOUBLE) /
        |      (tpos::DOUBLE / t2.n::DOUBLE), 6) END AS cum_lift
        |FROM c, tot2 t2 ORDER BY bucket""".stripMargin,

    // The q134 list-comprehension n-gram device per order 1..4,
    // per-pair clipped matches via an inner (id, gram) join, exact
    // integer corpus sums, then the operator's BP/geomean double order.
    "q248_bleu" -> {
      val orders = (1 to 4).map { n =>
        val grams = s"[array_to_string(ct[i:i+${n - 1}], ' ') " +
          s"FOR i IN range(1, len(ct) - ${n - 2})]"
        val rgrams = s"[array_to_string(rt[i:i+${n - 1}], ' ') " +
          s"FOR i IN range(1, len(rt) - ${n - 2})]"
        s"""c$n AS (SELECT id, g, count(*) AS cc FROM (
           |  SELECT id, unnest($grams) AS g FROM t) GROUP BY 1, 2),
           |r$n AS (SELECT id, g, count(*) AS rc FROM (
           |  SELECT id, unnest($rgrams) AS g FROM t) GROUP BY 1, 2),
           |m$n AS (SELECT coalesce(sum(least(cc, rc)), 0)::BIGINT AS m
           |        FROM c$n JOIN r$n USING (id, g)),
           |t$n AS (SELECT coalesce(sum(greatest(len(ct) - ${n - 1}, 0)),
           |          0)::BIGINT AS t FROM t)"""
      }.mkString(",\n")
      val bpExpr = "CASE WHEN cl > rl THEN 1.0::DOUBLE ELSE " +
        "exp(1.0::DOUBLE - rl::DOUBLE / cl::DOUBLE) END"
      val lnSum = (1 to 4).map(n => s"ln(m$n.m::DOUBLE / t$n.t::DOUBLE)")
        .reduceLeft((a, b) => s"($a + $b)")
      val pCols = (1 to 4).map(n =>
        s"""CASE WHEN t$n.t > 0 THEN
           |    round(m$n.m::DOUBLE / t$n.t::DOUBLE, 6) END AS p$n""")
        .mkString(",\n  ")
      s"""WITH d0 AS (
         |  SELECT doc_id AS id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> x <> '') AS rt
         |  FROM documents),
         |t0 AS (SELECT id, rt,
         |  rt[1:greatest(floor((len(rt) * 3)::DOUBLE / 4.0::DOUBLE)::INT,
         |    1)] AS pt
         |  FROM d0),
         |t AS MATERIALIZED (SELECT id, rt,
         |  [CASE WHEN (i - 1) % 7 = 3 THEN 'xx' ELSE pt[i] END
         |    FOR i IN range(1, len(pt) + 1)] AS ct
         |  FROM t0),
         |lens AS (SELECT count(*)::BIGINT AS np, sum(len(ct))::BIGINT
         |  AS cl, sum(len(rt))::BIGINT AS rl FROM t),
         |$orders
         |SELECT np AS n_pairs, cl AS cand_len, rl AS ref_len,
         |  $pCols,
         |  CASE WHEN cl = 0 THEN NULL
         |    ELSE round($bpExpr, 6) END AS brevity_penalty,
         |  CASE WHEN cl = 0 THEN NULL
         |    WHEN m1.m = 0 OR m2.m = 0 OR m3.m = 0 OR m4.m = 0
         |      THEN 0.0::DOUBLE
         |    ELSE round(($bpExpr) * exp($lnSum / 4.0::DOUBLE), 6)
         |  END AS bleu
         |FROM lens, m1, t1, m2, t2, m3, t3, m4, t4""".stripMargin
    },

    // Per-pair clipped-overlap replay for ROUGE-1/2; ROUGE-L via the
    // closed form lcs = clean prefix tokens (the 'xx' corruption token
    // never occurs in the generator vocabulary, checked, so corrupted
    // positions can never re-match); P/R/F algebra in the operator's
    // double order.
    "q249_rouge" -> {
      def prf(m: String, tc: String, tr: String, name: String) =
        s"""CASE WHEN $tc > 0 THEN round(($m)::DOUBLE / ($tc)::DOUBLE, 6)
           |  END AS ${name}_p,
           |CASE WHEN $tr > 0 THEN round(($m)::DOUBLE / ($tr)::DOUBLE, 6)
           |  END AS ${name}_r,
           |CASE WHEN $tc > 0 AND $tr > 0 AND
           |    (($m)::DOUBLE / ($tc)::DOUBLE +
           |     ($m)::DOUBLE / ($tr)::DOUBLE) > 0.0::DOUBLE THEN
           |  round(2.0::DOUBLE * (($m)::DOUBLE / ($tc)::DOUBLE) *
           |    (($m)::DOUBLE / ($tr)::DOUBLE) /
           |    (($m)::DOUBLE / ($tc)::DOUBLE +
           |     ($m)::DOUBLE / ($tr)::DOUBLE), 6) END AS ${name}_f"""
          .stripMargin
      s"""WITH d0 AS (
         |  SELECT doc_id AS id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> x <> '') AS rt
         |  FROM documents),
         |t0 AS (SELECT id, rt,
         |  rt[1:greatest(floor((len(rt) * 3)::DOUBLE / 4.0::DOUBLE)::INT,
         |    1)] AS pt
         |  FROM d0),
         |t AS MATERIALIZED (SELECT id, rt,
         |  [CASE WHEN (i - 1) % 7 = 3 THEN 'xx' ELSE pt[i] END
         |    FOR i IN range(1, len(pt) + 1)] AS ct
         |  FROM t0),
         |c1 AS (SELECT id, g, count(*) AS cc FROM (
         |  SELECT id, unnest(ct) AS g FROM t) GROUP BY 1, 2),
         |r1 AS (SELECT id, g, count(*) AS rc FROM (
         |  SELECT id, unnest(rt) AS g FROM t) GROUP BY 1, 2),
         |m1 AS (SELECT id, sum(least(cc, rc))::BIGINT AS m
         |       FROM c1 JOIN r1 USING (id, g) GROUP BY id),
         |c2 AS (SELECT id, g, count(*) AS cc FROM (
         |  SELECT id, unnest([array_to_string(ct[i:i+1], ' ')
         |    FOR i IN range(1, len(ct))]) AS g FROM t) GROUP BY 1, 2),
         |r2 AS (SELECT id, g, count(*) AS rc FROM (
         |  SELECT id, unnest([array_to_string(rt[i:i+1], ' ')
         |    FOR i IN range(1, len(rt))]) AS g FROM t) GROUP BY 1, 2),
         |m2 AS (SELECT id, sum(least(cc, rc))::BIGINT AS m
         |       FROM c2 JOIN r2 USING (id, g) GROUP BY id),
         |f AS (SELECT t.id, len(ct) AS lc, len(rt) AS lr,
         |    coalesce(m1.m, 0) AS mm1, coalesce(m2.m, 0) AS mm2,
         |    len(ct) - (CASE WHEN len(ct) >= 4
         |      THEN (len(ct) - 4) // 7 + 1 ELSE 0 END) AS lcs
         |  FROM t LEFT JOIN m1 ON m1.id = t.id
         |         LEFT JOIN m2 ON m2.id = t.id)
         |SELECT id AS doc_id,
         |  ${prf("mm1", "lc", "lr", "rouge1")},
         |  ${prf("mm2", "greatest(lc - 1, 0)", "greatest(lr - 1, 0)",
            "rouge2")},
         |  ${prf("lcs", "lc", "lr", "rougeL")}
         |FROM f ORDER BY doc_id""".stripMargin
    },

    // Dense-grid replay: marginal cross join, the same 2-D suffix-sum
    // windows, DECIMAL(19,0) pair products, the doubled-unit tau-b
    // algebra in the operator's double order.
    "q250_kendall_tau" ->
      """WITH v AS (
        |  SELECT l_quantity::DOUBLE AS x, l_discount::DOUBLE AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |cells AS (SELECT x, y, count(*) AS n FROM v GROUP BY 1, 2),
        |mx AS (SELECT x, sum(n)::BIGINT AS rx FROM cells GROUP BY x),
        |my AS (SELECT y, sum(n)::BIGINT AS ry FROM cells GROUP BY y),
        |grid AS (
        |  SELECT mx.x, my.y, coalesce(n, 0)::BIGINT AS n
        |  FROM mx CROSS JOIN my
        |  LEFT JOIN cells ON cells.x = mx.x AND cells.y = my.y),
        |g2 AS (SELECT *,
        |    coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS suf,
        |    coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pre
        |  FROM grid),
        |g3 AS (SELECT *,
        |    coalesce(sum(suf) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS sgt,
        |    coalesce(sum(pre) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS slt
        |  FROM g2),
        |cd AS (SELECT
        |    sum(n::DECIMAL(19,0) * sgt::DECIMAL(19,0)) AS c,
        |    sum(n::DECIMAL(19,0) * slt::DECIMAL(19,0)) AS d
        |  FROM g3),
        |tx AS (SELECT sum(rx)::BIGINT AS n, count(*)::BIGINT AS nx,
        |    sum(rx::DECIMAL(19,0) * (rx - 1)::DECIMAL(19,0)) AS t2
        |  FROM mx),
        |ty AS (SELECT count(*)::BIGINT AS ny,
        |    sum(ry::DECIMAL(19,0) * (ry - 1)::DECIMAL(19,0)) AS t2
        |  FROM my),
        |alg AS (SELECT tx.n, nx, ny, cd.c, cd.d,
        |    (tx.n::DECIMAL(38,0) * (tx.n - 1)::DECIMAL(38,0) - tx.t2)
        |      ::DOUBLE AS dx,
        |    (tx.n::DECIMAL(38,0) * (tx.n - 1)::DECIMAL(38,0) - ty.t2)
        |      ::DOUBLE AS dy
        |  FROM cd, tx, ty)
        |SELECT n, nx AS n_x, ny AS n_y, c::DOUBLE AS concordant,
        |  d::DOUBLE AS discordant,
        |  CASE WHEN dx > 0.0::DOUBLE AND dy > 0.0::DOUBLE THEN
        |    round(2.0::DOUBLE * (c - d)::DOUBLE /
        |      (sqrt(dx) * sqrt(dy)), 6) END AS tau_b
        |FROM alg""".stripMargin,

    // q240's per-subject frame, then q181's KM replay PARTITIONED by
    // arm, plus the Nelson-Aalen quantized-hazard cumulative sum.
    "q251_km_curves" ->
      """WITH ev AS (SELECT user_id AS u,
        |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
        |a AS (SELECT u, min(ms) AS anchor FROM ev
        |      WHERE et = 'signup' GROUP BY u),
        |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
        |       WHERE ev.et = 'purchase' AND ev.ms >= a.anchor
        |       GROUP BY ev.u),
        |mx AS (SELECT max(ms) AS fin FROM ev),
        |pu AS (SELECT
        |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS g,
        |    floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT AS t,
        |    CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e
        |  FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
        |km AS (SELECT g, t, sum(e)::BIGINT AS n_events,
        |         sum(1 - e)::BIGINT AS n_censored FROM pu GROUP BY g, t),
        |w AS (SELECT g, t, n_events, n_censored,
        |    (sum(n_events + n_censored) OVER (PARTITION BY g)
        |     - coalesce(sum(n_events + n_censored) OVER
        |         (PARTITION BY g ORDER BY t ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_at_risk
        |  FROM km),
        |s AS (SELECT *,
        |    CASE WHEN n_events < n_at_risk THEN
        |      CAST(ln(1 - n_events::DOUBLE / n_at_risk)
        |        AS DECIMAL(38,12)) END AS lnq,
        |    CAST(n_events::DOUBLE / n_at_risk::DOUBLE
        |      AS DECIMAL(38,12)) AS h
        |  FROM w)
        |SELECT g AS grp, t::DOUBLE AS t, n_at_risk, n_events,
        |  n_censored,
        |  CASE WHEN n_events = n_at_risk THEN 0.0
        |    ELSE round(exp((sum(lnq) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      ::DOUBLE), 6)
        |  END AS survival,
        |  round((sum(h) OVER (PARTITION BY g ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    ::DOUBLE, 6) AS cum_hazard
        |FROM s ORDER BY grp, t""".stripMargin,

    // The family-generic IRLS unroll with the Poisson link (mu = e^eta,
    // weight = mu), eight Newton steps, q245's per-term readout.
    "q252_poisson" -> {
      val perRow =
        """SELECT
          |  (count(CASE WHEN event_type = 'purchase' THEN 1 END))::DOUBLE
          |    AS y,
          |  (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
          |    AS engagement,
          |  (count(DISTINCT CAST(ts AS DATE)))::DOUBLE AS active_days
          |FROM events GROUP BY user_id""".stripMargin
      val rows = Seq("intercept", "engagement", "active_days")
        .zipWithIndex.map { case (tm, i) =>
          val se = s"sqrt(s.g_${i}_${4 + i})"
          s"""SELECT $i AS term_idx, '$tm' AS term, q.n AS n,
             |  round(b.c$i, 6) AS coef, round($se, 6) AS se,
             |  CASE WHEN round($se, 6) > 0.0::DOUBLE
             |    THEN round(b.c$i / $se, 6) END AS z_stat
             |FROM b8 b, e8_3 s, q8 q""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""${glmIrlsSql(perRow, "y", Seq("engagement", "active_days"), 8,
          eta => s"exp($eta)", "mu")}
         |$rows
         |ORDER BY term_idx""".stripMargin
    },

    // Vocab-grain replay: per-side word counts, full-outer join, the
    // operator's exact E/G2/direction double shapes, top-50 with the
    // word tiebreak.
    "q253_keyness" ->
      """WITH a AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS word
        |  FROM documents WHERE lang = 'en'),
        |b AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS word
        |  FROM documents WHERE lang IS NOT NULL AND lang <> 'en'),
        |ca AS (SELECT word, count(*) AS n_a FROM a GROUP BY word),
        |cb AS (SELECT word, count(*) AS n_b FROM b GROUP BY word),
        |j AS (SELECT coalesce(ca.word, cb.word) AS word,
        |    coalesce(n_a, 0)::BIGINT AS n_a,
        |    coalesce(n_b, 0)::BIGINT AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
        |tot AS (SELECT sum(n_a)::BIGINT AS na, sum(n_b)::BIGINT AS nb
        |        FROM j),
        |alg AS (SELECT word, n_a, n_b,
        |    (n_a + n_b)::DOUBLE * t.na::DOUBLE /
        |      (t.na + t.nb)::DOUBLE AS ea,
        |    (n_a + n_b)::DOUBLE * t.nb::DOUBLE /
        |      (t.na + t.nb)::DOUBLE AS eb,
        |    t.na AS na, t.nb AS nb
        |  FROM j, tot t)
        |SELECT word, n_a, n_b, round(ea, 6) AS expected_a,
        |  round(2.0::DOUBLE *
        |    (CASE WHEN n_a > 0
        |       THEN n_a::DOUBLE * ln(n_a::DOUBLE / ea)
        |       ELSE 0.0::DOUBLE END +
        |     CASE WHEN n_b > 0
        |       THEN n_b::DOUBLE * ln(n_b::DOUBLE / eb)
        |       ELSE 0.0::DOUBLE END), 6) AS g2,
        |  CASE WHEN n_a::DOUBLE * nb::DOUBLE > n_b::DOUBLE * na::DOUBLE
        |    THEN 'over' ELSE 'under' END AS direction
        |FROM alg ORDER BY g2 DESC, word LIMIT 50""".stripMargin,

    // The same windowed algebra: centered 7-row MA trend (count-gated
    // edges), dow means of decimal-quantized detrended terms, the
    // centering subtraction and the remainder in the operator's double
    // order; dayofweek + 1 aligns DuckDB's 0-based Sunday with Spark's.
    "q254_seasonal_decompose" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (SELECT *,
        |    CASE WHEN count(*) OVER w7 = 7 THEN
        |      (sum(n) OVER w7)::DOUBLE / 7.0::DOUBLE END AS trend,
        |    dayofweek(day) + 1 AS dow
        |  FROM d
        |  WINDOW w7 AS (PARTITION BY key ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |b2 AS (SELECT *, n::DOUBLE - trend AS detr FROM b),
        |s AS (SELECT key, dow,
        |    (sum(CAST(detr AS DECIMAL(38,12))))::DOUBLE /
        |      (count(*))::DOUBLE AS raw
        |  FROM b2 WHERE detr IS NOT NULL GROUP BY key, dow),
        |s2 AS (SELECT key, dow, raw -
        |    (sum(CAST(raw AS DECIMAL(38,12))) OVER (PARTITION BY key))
        |      ::DOUBLE / (count(*) OVER (PARTITION BY key))::DOUBLE
        |    AS adj
        |  FROM s)
        |SELECT b2.key, b2.day, b2.n, round(trend, 6) AS trend,
        |  round(adj, 6) AS seasonal,
        |  round(b2.n::DOUBLE - trend - adj, 6) AS remainder
        |FROM b2 LEFT JOIN s2 ON s2.key = b2.key AND s2.dow = b2.dow
        |ORDER BY b2.key, b2.day""".stripMargin,

    // Per-side left-fold norms (list_reduce mirrors the operator's
    // aggregate() order), dimension-keyed decimal centroid sums, the
    // cosine algebra in the operator's double order.
    "q255_embedding_drift" ->
      """WITH u AS (
        |  SELECT CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS s,
        |    embedding AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |cnt AS (
        |  SELECT s, count(*)::BIGINT AS n,
        |    (sum(CAST(sqrt(list_reduce(
        |      list_prepend(0.0::DOUBLE,
        |        [v[i]::DOUBLE * v[i]::DOUBLE
        |         FOR i IN range(1, len(v) + 1)]),
        |      (acc, x) -> acc + x)) AS DECIMAL(38,12))))::DOUBLE AS sn,
        |    max(len(v))::INT AS dim
        |  FROM u GROUP BY s),
        |p AS (SELECT s, u2.pp AS p, u2.vv AS x FROM (
        |  SELECT s, unnest([{'pp': i, 'vv': v[i]::DOUBLE}
        |    FOR i IN range(1, len(v) + 1)]) AS u2 FROM u)),
        |ps AS (SELECT p,
        |    (sum(CASE WHEN s = 'a' THEN CAST(x AS DECIMAL(38,12)) END))
        |      ::DOUBLE AS sa,
        |    (sum(CASE WHEN s = 'b' THEN CAST(x AS DECIMAL(38,12)) END))
        |      ::DOUBLE AS sb
        |  FROM p GROUP BY p),
        |m AS (SELECT
        |    sa / (SELECT n FROM cnt WHERE s = 'a')::DOUBLE AS ma,
        |    sb / (SELECT n FROM cnt WHERE s = 'b')::DOUBLE AS mb
        |  FROM ps),
        |dots AS (SELECT
        |    sum(CAST(ma * mb AS DECIMAL(38,12)))::DOUBLE AS sab,
        |    sum(CAST(ma * ma AS DECIMAL(38,12)))::DOUBLE AS saa,
        |    sum(CAST(mb * mb AS DECIMAL(38,12)))::DOUBLE AS sbb
        |  FROM m)
        |SELECT ca.n AS n_ref, cb.n AS n_live, ca.dim AS dim,
        |  CASE WHEN saa > 0.0::DOUBLE AND sbb > 0.0::DOUBLE THEN
        |    round(sab / (sqrt(saa) * sqrt(sbb)), 6) END
        |    AS centroid_cosine,
        |  round(ca.sn / ca.n::DOUBLE, 6) AS mean_norm_ref,
        |  round(cb.sn / cb.n::DOUBLE, 6) AS mean_norm_live
        |FROM dots, (SELECT * FROM cnt WHERE s = 'a') ca,
        |  (SELECT * FROM cnt WHERE s = 'b') cb""".stripMargin,

    // Residual-grain cumulative replay of the order statistic, then
    // the coverage count against the unrounded q-hat.
    "q256_conformal" ->
      """WITH sc AS (
        |  SELECT abs(n_chars::DOUBLE -
        |    (n_chars::DOUBLE + (doc_id * 131 % 997 - 498)::DOUBLE)) AS r
        |  FROM documents),
        |t AS (SELECT count(*)::BIGINT AS n FROM sc),
        |kk AS (SELECT n,
        |    ceil((n + 1)::DOUBLE * 0.9::DOUBLE)::BIGINT AS k FROM t),
        |g AS (SELECT r, count(*) AS c FROM sc GROUP BY r),
        |cum AS (SELECT r, sum(c) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM g),
        |q AS (SELECT min(r) AS qh FROM cum, kk WHERE cm >= kk.k),
        |cov AS (SELECT count(CASE WHEN r <= qh THEN 1 END)::BIGINT AS m
        |        FROM sc, q)
        |SELECT t.n, 0.1::DOUBLE AS alpha, round(qh, 6) AS q_hat,
        |  round(m::DOUBLE / t.n::DOUBLE, 6) AS coverage
        |FROM t, q, cov""".stripMargin,

    // OLS start unrolled, the 6-dp MAD scale via quantile_cont (the
    // type-7 pairing with the exact quantile machine), four unrolled
    // weighted solves with the operator's exact weight/term shapes.
    "q257_huber" -> {
      val xs = Seq("engagement", "active_days")
      val k = xs.size
      val p = k + 1
      val w = p + 1
      val d = "DECIMAL(38,12)"
      def linB(alias: String) =
        s"(($alias.g_0_$p + $alias.g_1_$p * engagement) + " +
          s"$alias.g_2_$p * active_days)"
      def elim(tag: String, from: String): String = {
        val steps = (0 until p).map { c =>
          val entries = (for { r <- 0 until p; j <- 0 until w } yield {
            val e2 =
              if (r == c) s"(g_${c}_$j / g_${c}_$c)"
              else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
            s"$e2 AS g_${r}_$j"
          }).mkString(",\n    ")
          val src = if (c == 0) s"${tag}0" else s"$tag$c"
          s"$tag${c + 1} AS (SELECT\n    $entries\n  FROM $src)"
        }.mkString(",\n")
        def init(r: Int, j: Int): String = {
          def gram(a: Int, b: Int): String =
            if (a == 0 && b == 0) "h_0_0"
            else s"h_${math.min(a, b)}_${math.max(a, b)}"
          if (j < p) gram(r, j) else s"g_$r"
        }
        val g0 = (for { r <- 0 until p; j <- 0 until w }
          yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
        s"""${tag}0 AS (SELECT
           |    $g0
           |  FROM $from),
           |$steps""".stripMargin
      }
      def wMoments(tag: String, src: String): String = {
        def x(i: Int) = xs(i - 1)
        def hT(r: Int, c: Int) =
          if (r == 0 && c == 0) "w"
          else if (r == 0) s"w * ${x(c)}"
          else s"w * ${x(r)} * ${x(c)}"
        def gT(r: Int) = if (r == 0) "w * y" else s"w * ${x(r)} * y"
        val mom = (Seq("count(*)::BIGINT AS n") ++
          (for { r <- 0 until p; c <- r until p }
            yield s"sum(CAST(${hT(r, c)} AS $d))::DOUBLE AS h_${r}_$c") ++
          (0 until p).map(r =>
            s"sum(CAST(${gT(r)} AS $d))::DOUBLE AS g_$r"))
          .mkString(",\n    ")
        s"""$tag AS MATERIALIZED (SELECT
           |    $mom
           |  FROM ($src))""".stripMargin
      }
      // OLS start: unweighted = weight 1 (1.0·x is an exact double
      // no-op, so the quantized moments equal the operator's plain ones)
      val olsMom = wMoments("q0", "SELECT u.*, 1.0::DOUBLE AS w FROM u")
      val iters = (1 to 4).map { i =>
        val bSrc = if (i == 1) s"o$p" else s"e${i - 1}_$p"
        val rows =
          s"""SELECT u.*, CASE
             |    WHEN abs(y - ${linB("b")}) <= 1.345::DOUBLE * sc.s
             |      THEN 1.0::DOUBLE
             |    ELSE (1.345::DOUBLE * sc.s) / abs(y - ${linB("b")}) END
             |    AS w
             |  FROM u, $bSrc b, sc""".stripMargin
        s"""${wMoments(s"q$i", rows)},
           |${elim(s"e${i}_", s"q$i")}"""
      }.mkString(",\n")
      s"""WITH u AS MATERIALIZED ($errTreatPerRowSql),
         |$olsMom,
         |${elim("o", "q0")},
         |r0 AS (SELECT u.*, (y - ${linB("ob")}) AS r FROM u, o$p ob),
         |sc AS (SELECT round(1.4826::DOUBLE *
         |    (SELECT quantile_cont(abs(r -
         |       (SELECT quantile_cont(r, 0.5) FROM r0)), 0.5) FROM r0),
         |    6) AS s),
         |$iters,
         |nd AS (SELECT count(CASE WHEN abs(y - ${linB("b")}) >
         |    1.345::DOUBLE * sc.s THEN 1 END)::BIGINT AS m
         |  FROM u, e4_$p b, sc)
         |SELECT t.term_idx, t.term, q4.n, t.coef, sc.s AS scale,
         |  nd.m AS n_downweighted
         |FROM (
         |  SELECT 0 AS term_idx, 'intercept' AS term,
         |    round(b.g_0_$p, 6) AS coef FROM e4_$p b
         |  UNION ALL SELECT 1, 'engagement', round(b.g_1_$p, 6)
         |    FROM e4_$p b
         |  UNION ALL SELECT 2, 'active_days', round(b.g_2_$p, 6)
         |    FROM e4_$p b) t, q4, sc, nd
         |ORDER BY t.term_idx""".stripMargin
    },

    // The IRLS propensity prefix, then the global-window replay of the
    // nearest-control match: struct max/min backward/forward windows
    // over (e, id), the operator's exact pick/caliper/ATT double order.
    "q258_matched_att" -> {
      val eta = "((b.c0 + b.c1 * engagement) + b.c2 * active_days)"
      s"""${logitIrlsSql(errTreatPerRowIdSql, "t",
          Seq("engagement", "active_days"), 6)},
         |scored AS (SELECT u.id, u.t, u.y AS yy,
         |    1.0::DOUBLE / (1.0::DOUBLE + exp(-$eta)) AS e
         |  FROM u, b6 b),
         |nb AS (SELECT *,
         |    max(CASE WHEN t = 0.0 THEN
         |        {'e': e, 'id': id, 'yy': yy} END)
         |      OVER (ORDER BY e, id ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND 1 PRECEDING) AS bwd,
         |    min(CASE WHEN t = 0.0 THEN
         |        {'e': e, 'id': id, 'yy': yy} END)
         |      OVER (ORDER BY e, id ROWS BETWEEN 1 FOLLOWING
         |        AND UNBOUNDED FOLLOWING) AS fwd
         |  FROM scored),
         |ch AS (SELECT *,
         |    CASE WHEN bwd.e IS NOT NULL AND (fwd.e IS NULL OR
         |      (e - bwd.e) <= (fwd.e - e)) THEN TRUE ELSE FALSE END
         |      AS pickb
         |  FROM nb WHERE t = 1.0),
         |mm AS (SELECT *,
         |    CASE WHEN pickb THEN (e - bwd.e) ELSE (fwd.e - e) END
         |      AS dist,
         |    CASE WHEN pickb THEN bwd.yy ELSE fwd.yy END AS my
         |  FROM ch),
         |agg AS (SELECT count(*)::BIGINT AS nt,
         |    count(CASE WHEN (bwd.e IS NOT NULL OR fwd.e IS NOT NULL)
         |      AND dist <= 0.1::DOUBLE THEN 1 END)::BIGINT AS nm,
         |    (sum(CASE WHEN (bwd.e IS NOT NULL OR fwd.e IS NOT NULL)
         |      AND dist <= 0.1::DOUBLE
         |      THEN CAST(yy - my AS DECIMAL(38,12)) END))::DOUBLE AS sd
         |  FROM mm),
         |nc AS (SELECT count(*)::BIGINT AS c FROM scored WHERE t = 0.0)
         |SELECT nt AS n_treated, nc.c AS n_control, nm AS n_matched,
         |  CASE WHEN nm > 0 THEN round(sd / nm::DOUBLE, 6) END AS att
         |FROM agg, nc""".stripMargin
    },

    // Grouped quantile_cont (the type-7 pairing with the exact rank
    // machine) unpacked per tau, then the pivot + difference in the
    // operator's double order.
    "q259_qte" ->
      """WITH v AS (
        |  SELECT CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS g,
        |    value::DOUBLE AS x
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |qq AS (SELECT g,
        |    quantile_cont(x, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
        |  FROM v GROUP BY g),
        |e AS (SELECT g,
        |    unnest([{'tau': [0.1, 0.25, 0.5, 0.75, 0.9][i],
        |             'qv': qs[i]} FOR i IN range(1, 6)]) AS u
        |  FROM qq),
        |p AS (SELECT u.tau AS tau,
        |    max(CASE WHEN g = 'A' THEN u.qv END) AS qa,
        |    max(CASE WHEN g = 'B' THEN u.qv END) AS qb
        |  FROM e GROUP BY 1)
        |SELECT tau, round(qa, 6) AS q_a, round(qb, 6) AS q_b,
        |  round(qb - qa, 6) AS qte
        |FROM p ORDER BY tau""".stripMargin,

    // Cell-grain replay: one contingency CTE, marginals, each entropy
    // as a decimal-quantized p·ln p sum — the operator's exact double
    // shapes (count/N division first, ln second, quantize third).
    "q260_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang::VARCHAR AS a, source::VARCHAR AS b,
        |    count(*)::BIGINT AS o
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |nr AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |ma AS (SELECT a, sum(o)::BIGINT AS c FROM cells GROUP BY a),
        |mb AS (SELECT b, sum(o)::BIGINT AS c FROM cells GROUP BY b),
        |ha AS (SELECT (-sum(CAST((c::DOUBLE / nr.n::DOUBLE) *
        |    ln(c::DOUBLE / nr.n::DOUBLE) AS DECIMAL(38,12))))::DOUBLE
        |    AS h
        |  FROM ma, nr),
        |hb AS (SELECT (-sum(CAST((c::DOUBLE / nr.n::DOUBLE) *
        |    ln(c::DOUBLE / nr.n::DOUBLE) AS DECIMAL(38,12))))::DOUBLE
        |    AS h
        |  FROM mb, nr),
        |hab AS (SELECT (-sum(CAST((o::DOUBLE / nr.n::DOUBLE) *
        |    ln(o::DOUBLE / nr.n::DOUBLE) AS DECIMAL(38,12))))::DOUBLE
        |    AS h
        |  FROM cells, nr)
        |SELECT nr.n AS n,
        |  (SELECT count(*) FROM ma)::BIGINT AS n_a,
        |  (SELECT count(*) FROM mb)::BIGINT AS n_b,
        |  round(ha.h, 6) AS h_a, round(hb.h, 6) AS h_b,
        |  round(hab.h, 6) AS h_ab,
        |  round(ha.h + hb.h - hab.h, 6) AS mi,
        |  CASE WHEN ha.h > 0 AND hb.h > 0
        |    THEN round((ha.h + hb.h - hab.h) / sqrt(ha.h * hb.h), 6)
        |  END AS nmi
        |FROM nr, ha, hb, hab""".stripMargin,

    // Arm-grain replay: md5 bucketing, the design-weight spine, the
    // decimal chi terms, and the Wilson-Hilferty + A&S 7.1.26 tail in
    // the operator's exact double order.
    "q261_srm" -> {
      val z = "((pow(chi2 / 2.0::DOUBLE, 1.0::DOUBLE/3.0::DOUBLE) - " +
        "(1.0::DOUBLE - 2.0::DOUBLE/18.0::DOUBLE)) / " +
        "sqrt(2.0::DOUBLE/18.0::DOUBLE))"
      s"""WITH u AS (
         |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
         |arms AS (
         |  SELECT CASE
         |      WHEN substring(md5(user_id::VARCHAR), 1, 1)
         |        IN ('0','1','2','3','4','5','6','7') THEN 'a'
         |      WHEN substring(md5(user_id::VARCHAR), 1, 1)
         |        IN ('8','9','a','b') THEN 'b'
         |      ELSE 'c' END AS arm
         |  FROM u),
         |spine AS (SELECT * FROM (VALUES
         |  ('a', 2.0::DOUBLE), ('b', 1.0::DOUBLE), ('c', 1.0::DOUBLE))
         |  AS t(arm, w)),
         |obs AS (SELECT arm, count(*)::BIGINT AS n FROM arms GROUP BY arm),
         |g AS (SELECT s.arm, coalesce(o.n, 0)::BIGINT AS n,
         |    s.w / 4.0::DOUBLE AS p
         |  FROM spine s LEFT JOIN obs o ON o.arm = s.arm),
         |tot AS (SELECT sum(n)::BIGINT AS N FROM g),
         |terms AS (SELECT g.arm, g.n, g.p,
         |    tot.N AS ntot, tot.N::DOUBLE * g.p AS e,
         |    CAST((g.n - tot.N::DOUBLE * g.p) * (g.n - tot.N::DOUBLE * g.p)
         |      / (tot.N::DOUBLE * g.p) AS DECIMAL(38,12)) AS chi
         |  FROM g, tot),
         |c2 AS (SELECT (sum(chi))::DOUBLE AS chi2 FROM terms),
         |ztab AS (SELECT chi2, $z AS z FROM c2),
         |poly AS (SELECT chi2, z,
         |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(z))
         |      AS t
         |  FROM ztab),
         |tails AS (SELECT chi2, z,
         |    exp(-abs(z) * abs(z) / 2.0::DOUBLE) /
         |      sqrt(2.0::DOUBLE * pi()) *
         |    (t * (0.319381530::DOUBLE + t * (-0.356563782::DOUBLE +
         |     t * (1.781477937::DOUBLE + t * (-1.821255978::DOUBLE +
         |      t * 1.330274429::DOUBLE))))) AS tail
         |  FROM poly),
         |pv AS (SELECT chi2,
         |    CASE WHEN z >= 0 THEN tail
         |      ELSE 1.0::DOUBLE - tail END AS p
         |  FROM tails)
         |SELECT t.arm, t.n,
         |  round(t.n::DOUBLE / t.ntot::DOUBLE, 6) AS share,
         |  round(t.p, 6) AS expected_share,
         |  round(t.e, 6) AS expected_n,
         |  round(pv.chi2, 6) AS chi2, 2::INT AS dof,
         |  CASE WHEN t.ntot > 0 THEN
         |    round(least(1.0::DOUBLE, greatest(0.0::DOUBLE, pv.p)), 6)
         |  END AS p_value
         |FROM terms t, pv ORDER BY t.arm""".stripMargin
    },

    // One moments CTE (decimal sums), then the z algebra and the A&S
    // two-sided tail replayed double-for-double.
    "q262_trend_test" ->
      """WITH b AS (
        |  SELECT substring(o_orderpriority, 1, 1)::DOUBLE AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1.0::DOUBLE
        |      ELSE 0.0::DOUBLE END AS y
        |  FROM orders WHERE o_orderpriority IS NOT NULL),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    (sum(CAST(y AS DECIMAL(38,12))))::DOUBLE AS sy,
        |    (sum(CAST(s AS DECIMAL(38,12))))::DOUBLE AS ss,
        |    (sum(CAST(s * s AS DECIMAL(38,12))))::DOUBLE AS sss,
        |    (sum(CAST(s * y AS DECIMAL(38,12))))::DOUBLE AS ssy,
        |    count(DISTINCT s)::BIGINT AS k
        |  FROM b),
        |alg AS (SELECT n, sy, k,
        |    n::DOUBLE * ssy - sy * ss AS num,
        |    (sy / n::DOUBLE) * (1.0::DOUBLE - sy / n::DOUBLE) *
        |      (n::DOUBLE * sss - ss * ss) AS den2
        |  FROM m),
        |zz AS (SELECT n, sy, k, num / sqrt(den2) AS zv, den2 FROM alg),
        |tt AS (SELECT *,
        |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(zv))
        |      AS t
        |  FROM zz)
        |SELECT n, sy::BIGINT AS n_pos, k AS n_levels,
        |  CASE WHEN den2 > 0 THEN round(zv, 6) END AS z,
        |  CASE WHEN den2 > 0 THEN round(least(1.0::DOUBLE,
        |    2.0::DOUBLE * exp(-abs(zv) * abs(zv) / 2.0::DOUBLE) /
        |    sqrt(2.0::DOUBLE * pi()) *
        |    (t * (0.319381530::DOUBLE + t * (-0.356563782::DOUBLE +
        |     t * (1.781477937::DOUBLE + t * (-1.821255978::DOUBLE +
        |      t * 1.330274429::DOUBLE)))))), 6) END AS p_value
        |FROM tt""".stripMargin,

    // The q228/q257 Gram device with lambda on the non-intercept
    // diagonal before the same unrolled elimination — coefficients
    // only (ridge SEs need the sandwich; the operator omits them too).
    "q263_ridge" -> ridgeOracleSql(
      s"SELECT y, engagement AS x0, active_days AS x1\n" +
        s"FROM ($errTreatPerRowSql)",
      2, Seq("engagement", "active_days"), lambda = 25.0),

    // The q252 IRLS unroll with gamma shapes: W = 1, residual
    // (y−mu)/mu, intercept seeded at ln(mean y) over the y > 0 slice.
    "q264_gamma_glm" -> {
      val perRow =
        s"SELECT y, engagement, active_days\n" +
          s"FROM ($errTreatPerRowSql)\nWHERE y > 0.0::DOUBLE"
      val rows = Seq("intercept", "engagement", "active_days")
        .zipWithIndex.map { case (tm, i) =>
          val se = s"sqrt(s.g_${i}_${4 + i})"
          s"""SELECT $i AS term_idx, '$tm' AS term, q.n AS n,
             |  round(b.c$i, 6) AS coef, round($se, 6) AS se,
             |  CASE WHEN round($se, 6) > 0.0::DOUBLE
             |    THEN round(b.c$i / $se, 6) END AS z_stat
             |FROM b8 b, e8_3 s, q8 q""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""${glmIrlsSql(perRow, "y", Seq("engagement", "active_days"), 8,
          eta => s"exp($eta)", "1.0::DOUBLE",
          residSql = "((y - mu) / mu)", seedIntercept = true)}
         |$rows
         |ORDER BY term_idx""".stripMargin
    },

    // The same unroll with NB2 shapes at alpha = 0.5: W =
    // mu/(1+alpha·mu), residual (y−mu)/(1+alpha·mu), seeded intercept.
    "q265_negbin" -> {
      val perRow =
        """SELECT
          |  (count(CASE WHEN event_type = 'error' THEN 1 END))::DOUBLE
          |    AS y,
          |  (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
          |    AS engagement,
          |  (count(DISTINCT CAST(ts AS DATE)))::DOUBLE AS active_days
          |FROM events GROUP BY user_id""".stripMargin
      val rows = Seq("intercept", "engagement", "active_days")
        .zipWithIndex.map { case (tm, i) =>
          val se = s"sqrt(s.g_${i}_${4 + i})"
          s"""SELECT $i AS term_idx, '$tm' AS term, q.n AS n,
             |  round(b.c$i, 6) AS coef, round($se, 6) AS se,
             |  CASE WHEN round($se, 6) > 0.0::DOUBLE
             |    THEN round(b.c$i / $se, 6) END AS z_stat
             |FROM b8 b, e8_3 s, q8 q""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""${glmIrlsSql(perRow, "y", Seq("engagement", "active_days"), 8,
          eta => s"exp($eta)",
          "(mu / (1.0::DOUBLE + 0.5::DOUBLE * mu))",
          residSql = "((y - mu) / (1.0::DOUBLE + 0.5::DOUBLE * mu))",
          seedIntercept = true)}
         |$rows
         |ORDER BY term_idx""".stripMargin
    },

    // Dimension-grain replay: decimal centroid sums, per-(point,label)
    // decimal distance sums, a/b off the distance table, the s-term
    // CASE in the operator's double order, decimal-quantized means.
    "q266_silhouette" ->
      s"""$clusterCtePrefix
         |SELECT own AS label, count(*)::BIGINT AS n,
         |  round(sum(CAST(a AS DECIMAL(38,12)))::DOUBLE / count(*), 6)
         |    AS mean_dist_own,
         |  round(sum(CAST(b AS DECIMAL(38,12)))::DOUBLE / count(*), 6)
         |    AS mean_dist_other,
         |  round(sum(CAST(CASE WHEN greatest(a, b) > 0
         |      THEN (b - a) / greatest(a, b)
         |      ELSE 0.0::DOUBLE END AS DECIMAL(38,12)))::DOUBLE
         |    / count(*), 6) AS silhouette
         |FROM ab GROUP BY own ORDER BY own""".stripMargin,

    // The same prefix; S_i per label, centroid-pair distances on the
    // dimension grain, max-ratio per cluster quantized before the
    // k-term mean; any coincident centroids null the index.
    "q267_davies_bouldin" ->
      s"""$clusterCtePrefix,
         |si AS (SELECT own AS l,
         |    sum(CAST(a AS DECIMAL(38,12)))::DOUBLE / count(*)::DOUBLE
         |      AS s
         |  FROM ab GROUP BY own),
         |m AS (SELECT a.l AS la, b.l AS lb,
         |    sqrt(sum(CAST((a.cx - b.cx) * (a.cx - b.cx)
         |      AS DECIMAL(38,12)))::DOUBLE) AS m
         |  FROM cent a JOIN cent b ON a.p = b.p AND a.l <> b.l
         |  GROUP BY a.l, b.l),
         |r AS (SELECT m.la,
         |    max((sa.s + sb.s) / m.m) AS best, min(m.m) AS mmin
         |  FROM m JOIN si sa ON sa.l = m.la JOIN si sb ON sb.l = m.lb
         |  GROUP BY m.la),
         |fin AS (SELECT count(*)::BIGINT AS k,
         |    (sum(CAST(best AS DECIMAL(38,12))))::DOUBLE AS sb,
         |    min(mmin) AS mm
         |  FROM r)
         |SELECT k, (SELECT sum(n)::BIGINT FROM cnt) AS n,
         |  CASE WHEN mm > 0 THEN round(sb / k::DOUBLE, 6) END
         |    AS db_index
         |FROM fin""".stripMargin,

    // The q208 weighted-PageRank unroll on a text-built edge list:
    // SQL tokenizer + stopword filter, adjacent-pair expansion,
    // canonical pair counts, contributions as pr * (w/outw) (the
    // operator's folded-share association), final score = pr × N.
    "q268_textrank" -> {
      val stop = graft.ops.TextAnalysis.stopwords
        .map(w => s"'$w'").mkString(", ")
      val rounds = (1 to 5).map { i =>
        val p = s"pr${i - 1}"
        s"""c$i AS MATERIALIZED (
           |  SELECT e.dst AS node, sum(p.pr * (e.w / d.outw)) AS c
           |  FROM e JOIN $p p ON p.node = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |pr$i AS MATERIALIZED (
           |  SELECT n.node,
           |    (1.0::DOUBLE - 0.85::DOUBLE) / m.n +
           |      0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
           |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node, meta m)"""
      }.mkString(",\n")
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(lower(trim(text)),
         |    '\\s+'), t -> t <> '' AND t NOT IN ($stop)) AS t
         |  FROM documents WHERE text IS NOT NULL),
         |tok2 AS (SELECT t FROM toks WHERE len(t) >= 2),
         |prs AS (
         |  SELECT u.a AS a, u.b AS b FROM (
         |    SELECT unnest([{'a': t[i], 'b': t[i + 1]}
         |      FOR i IN range(1, len(t))]) AS u
         |    FROM tok2)
         |  WHERE u.a <> u.b),
         |p0 AS (SELECT least(a, b) AS p1, greatest(a, b) AS p2,
         |    count(*) AS w
         |  FROM prs GROUP BY 1, 2),
         |e AS (SELECT p1 AS src, p2 AS dst, w::DOUBLE AS w FROM p0
         |      UNION ALL SELECT p2, p1, w::DOUBLE FROM p0),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |meta AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |deg AS (SELECT src, sum(w)::DOUBLE AS outw FROM e GROUP BY src),
         |pr0 AS (SELECT node, 1.0::DOUBLE / m.n AS pr
         |        FROM nodes, meta m),
         |$rounds
         |SELECT node AS word, round(pr * m.n, 6) AS score
         |FROM pr5, meta m
         |ORDER BY score DESC, word LIMIT 25""".stripMargin
    },

    // q188's join replay with the decay weight: integer whole-day age,
    // power(0.5, age) exact in IEEE754, weight quantized to
    // DECIMAL(38,12) BEFORE the per-conversion sum (order-invariant)
    "q269_timedecay_attribution" ->
      """WITH c AS (SELECT event_id AS cid, user_id AS u,
        |             epoch_ms(ts)::BIGINT AS cms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS u, epoch_ms(ts)::BIGINT AS tms,
        |        event_type AS ch
        |      FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT cid, coalesce(ch, '(direct)') AS channel,
        |        CASE WHEN ch IS NULL THEN 0
        |          ELSE floor((cms - tms)::DOUBLE / 86400000.0::DOUBLE)::BIGINT
        |        END AS age
        |      FROM c LEFT JOIN t ON c.u = t.u AND t.tms <= c.cms
        |        AND t.tms > c.cms - 259200000),
        |w AS (SELECT cid, channel,
        |        CAST(power(0.5::DOUBLE, age::DOUBLE) AS DECIMAL(38,12))
        |          AS wq FROM j),
        |k AS (SELECT cid, channel,
        |        CAST(wq::DOUBLE /
        |          (sum(wq) OVER (PARTITION BY cid))::DOUBLE
        |          AS DECIMAL(38,12)) AS share FROM w)
        |SELECT channel, count(*)::BIGINT AS n_touches,
        |  round(sum(share)::DOUBLE, 6) AS credit
        |FROM k GROUP BY channel ORDER BY channel""".stripMargin,

    // top-(k+1) value multiset is tie-proof (threshold terms are
    // ln(1)=0); log terms quantized before the sum, gamma = sl/k
    "q270_hill_tail" ->
      """WITH v AS (SELECT o_totalprice::DOUBLE AS x FROM orders
        |           WHERE o_totalprice IS NOT NULL
        |             AND o_totalprice::DOUBLE > 0),
        |nn AS (SELECT count(*)::BIGINT AS n FROM v),
        |top AS (SELECT x FROM v ORDER BY x DESC LIMIT 501),
        |thr AS (SELECT min(x) AS t FROM top),
        |s AS (SELECT sum(CAST(CASE WHEN x > t THEN ln(x / t)
        |        ELSE 0.0::DOUBLE END AS DECIMAL(38,12)))::DOUBLE AS sl
        |      FROM top, thr)
        |SELECT nn.n AS n, 500::BIGINT AS k, round(thr.t, 6) AS threshold,
        |  round(sl / 500.0::DOUBLE, 6) AS gamma_hat,
        |  CASE WHEN sl / 500.0::DOUBLE > 0.0::DOUBLE
        |    THEN round(1.0::DOUBLE / (sl / 500.0::DOUBLE), 6)
        |  END AS alpha_hat
        |FROM nn, thr, s""".stripMargin,

    // exact DECIMAL entity totals; squared shares quantized before the
    // global fold; CR ratios off the top-8 rows
    "q271_concentration" ->
      """WITH per AS (
        |  SELECT l_suppkey AS e,
        |    sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS ev
        |  FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT sum(ev) AS t, count(*)::BIGINT AS n FROM per),
        |hhi AS (SELECT sum(CAST((ev::DOUBLE / t.t::DOUBLE) *
        |          (ev::DOUBLE / t.t::DOUBLE)
        |          AS DECIMAL(38,12)))::DOUBLE AS s2
        |        FROM per, tot t),
        |top AS (SELECT ev, row_number() OVER (ORDER BY ev DESC) AS r
        |        FROM per ORDER BY ev DESC LIMIT 8),
        |cr AS (SELECT sum(CASE WHEN r <= 4 THEN ev END) AS c4,
        |         sum(ev) AS c8 FROM top)
        |SELECT tot.n AS n_entities, round(tot.t::DOUBLE, 6) AS total,
        |  round(10000.0::DOUBLE * s2, 6) AS hhi,
        |  round(c4::DOUBLE / tot.t::DOUBLE, 6) AS cr4,
        |  round(c8::DOUBLE / tot.t::DOUBLE, 6) AS cr8
        |FROM tot, hhi, cr""".stripMargin,

    // the ewmaChart fold replayed as a recursive CTE over the same
    // zero-filled spine: z seeded at mu, sigma from decimal-quantized
    // squared deviations, ooc compared on the 6-dp readouts
    "q272_ewma_chart" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_type AS key,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))::INT
        |      AS idx,
        |    count(*)::BIGINT AS n
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |ptf AS (SELECT * FROM pts WHERE idx >= 0 AND idx < 60),
        |keys AS (SELECT DISTINCT key FROM ptf),
        |spine AS (SELECT key, unnest(range(0, 60))::INT AS idx FROM keys),
        |xs AS (SELECT s.key, s.idx, coalesce(p.n, 0)::DOUBLE AS x
        |       FROM spine s LEFT JOIN ptf p
        |         ON p.key = s.key AND p.idx = s.idx),
        |mo AS (SELECT key, sum(x) / 60.0::DOUBLE AS mu
        |       FROM xs GROUP BY key),
        |sg AS (SELECT x.key,
        |    sqrt(sum(CAST((x.x - mu) * (x.x - mu)
        |      AS DECIMAL(38,12)))::DOUBLE / 60.0::DOUBLE) AS sigma
        |  FROM xs x JOIN mo ON mo.key = x.key GROUP BY x.key, mu),
        |ew AS (
        |  SELECT key, -1 AS t, mu AS z FROM mo
        |  UNION ALL
        |  SELECT ew.key, ew.t + 1,
        |    0.2::DOUBLE * x.x + 0.8::DOUBLE * ew.z
        |  FROM ew JOIN xs x ON x.key = ew.key AND x.idx = ew.t + 1
        |  WHERE ew.t < 59),
        |lim AS (SELECT ew.key, ew.t AS day_idx, ew.z,
        |    mo.mu + 3.0::DOUBLE * sg.sigma *
        |      sqrt((0.2::DOUBLE / 1.8::DOUBLE) *
        |        (1.0::DOUBLE - power(0.8::DOUBLE,
        |          2.0::DOUBLE * (ew.t + 1)::DOUBLE))) AS ucl,
        |    mo.mu - 3.0::DOUBLE * sg.sigma *
        |      sqrt((0.2::DOUBLE / 1.8::DOUBLE) *
        |        (1.0::DOUBLE - power(0.8::DOUBLE,
        |          2.0::DOUBLE * (ew.t + 1)::DOUBLE))) AS lcl
        |  FROM ew JOIN mo ON mo.key = ew.key
        |  JOIN sg ON sg.key = ew.key
        |  WHERE ew.t >= 0)
        |SELECT l.key, l.day_idx, x.x::BIGINT AS x,
        |  round(l.z, 6) AS ewma, round(l.ucl, 6) AS ucl,
        |  round(l.lcl, 6) AS lcl,
        |  (round(l.z, 6) > round(l.ucl, 6) OR
        |   round(l.z, 6) < round(l.lcl, 6)) AS out_of_control
        |FROM lim l JOIN xs x ON x.key = l.key AND x.idx = l.day_idx
        |ORDER BY l.key, l.day_idx""".stripMargin,

    // q243's ACF replay to lag 3, rounded to the 6-dp grain, then the
    // Levinson-Durbin recursion unrolled with the operator's exact
    // fold order ((p21*a2) + (p22*a1), e guards before each division)
    "q273_ar_fit" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (SELECT key, day, n,
        |    count(*) OVER (PARTITION BY key) AS cnt,
        |    (sum(CAST(n AS DECIMAL(38,12))) OVER (PARTITION BY key))
        |      ::DOUBLE / (count(*) OVER (PARTITION BY key))::DOUBLE
        |      AS mean
        |  FROM d),
        |b2 AS (SELECT *, (n::DOUBLE - mean) AS dev FROM b),
        |b3 AS (SELECT *,
        |    sum(CAST(dev * dev AS DECIMAL(38,12)))
        |      OVER (PARTITION BY key) AS den
        |  FROM b2),
        |i AS (SELECT *, row_number()
        |        OVER (PARTITION BY key ORDER BY day) AS idx FROM b3),
        |ks AS (SELECT unnest(range(1, 4)) AS lag),
        |lt AS (
        |  SELECT a.key, a.den, ks.lag, a.dev * p.dev AS term
        |  FROM i a JOIN ks ON TRUE
        |    JOIN i p ON p.key = a.key AND p.idx = a.idx - ks.lag),
        |rk AS (
        |  SELECT key, lag, max(den) AS den,
        |    sum(CAST(term AS DECIMAL(38,12))) AS num
        |  FROM lt GROUP BY key, lag),
        |rr AS (SELECT key, lag,
        |    CASE WHEN den::DOUBLE > 0.0::DOUBLE
        |      THEN round(num::DOUBLE / den::DOUBLE, 6) END AS r
        |  FROM rk),
        |pv AS (SELECT key,
        |    max(CASE WHEN lag = 1 THEN r END) AS a1,
        |    max(CASE WHEN lag = 2 THEN r END) AS a2,
        |    max(CASE WHEN lag = 3 THEN r END) AS a3
        |  FROM rr GROUP BY key),
        |pvf AS (SELECT * FROM pv WHERE a1 IS NOT NULL
        |          AND a2 IS NOT NULL AND a3 IS NOT NULL),
        |l1 AS (SELECT key, a1, a2, a3, a1 AS k1,
        |    (1.0::DOUBLE - (a1 * a1)) AS e1 FROM pvf),
        |l2 AS (SELECT *, CASE WHEN e1 <> 0.0::DOUBLE
        |    THEN (a2 - (k1 * a1)) / e1 END AS k2 FROM l1),
        |l2b AS (SELECT *, (k1 - (k2 * k1)) AS p21, k2 AS p22,
        |    (e1 * (1.0::DOUBLE - (k2 * k2))) AS e2
        |  FROM l2 WHERE k2 IS NOT NULL),
        |l3 AS (SELECT *, CASE WHEN e2 <> 0.0::DOUBLE
        |    THEN (a3 - ((p21 * a2) + (p22 * a1))) / e2 END AS k3
        |  FROM l2b),
        |fin AS (SELECT key, (p21 - (k3 * p22)) AS p31,
        |    (p22 - (k3 * p21)) AS p32, k3 AS p33,
        |    (e2 * (1.0::DOUBLE - (k3 * k3))) AS e3
        |  FROM l3 WHERE k3 IS NOT NULL)
        |SELECT key, lag, round(phi, 6) AS phi,
        |  round(e3, 6) AS var_ratio
        |FROM (
        |  SELECT key, 1 AS lag, p31 AS phi, e3 FROM fin
        |  UNION ALL SELECT key, 2, p32, e3 FROM fin
        |  UNION ALL SELECT key, 3, p33, e3 FROM fin)
        |ORDER BY key, lag""".stripMargin,

    // daily-count lag frame via window functions, then the shared
    // olsFit Gram replay; the ADF readout is term_idx 1 (y_{t-1})
    "q274_adf_test" -> {
      val perRow =
        """WITH ds AS (
          |  SELECT ts::DATE AS day, count(*)::BIGINT AS nn
          |  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
          |  GROUP BY 1),
          |s1 AS (SELECT day, nn::DOUBLE AS yy FROM ds),
          |lg AS (SELECT day, yy,
          |    lag(yy, 1) OVER (ORDER BY day) AS ylag FROM s1),
          |dd AS (SELECT day, (yy - ylag) AS dy, ylag FROM lg)
          |SELECT (dy) AS y, ylag AS x0,
          |  lag(dy, 1) OVER (ORDER BY day) AS x1,
          |  lag(dy, 2) OVER (ORDER BY day) AS x2
          |FROM dd""".stripMargin
      s"""SELECT n, 2 AS lags, coef AS beta, t_stat AS adf_stat,
         |  CASE WHEN t_stat IS NOT NULL
         |    THEN t_stat < -2.86::DOUBLE END AS stationary
         |FROM (
         |${olsFitOracleSql(perRow, 3, Seq("ylag", "dl1", "dl2"))}
         |) WHERE term_idx = 1""".stripMargin
    },

    // one Gram moments CTE feeds TWO prefixed elimination chains
    // (restricted p=3, unrestricted p=5); F from the raw RSS pair in
    // the operator's exact double order
    "q275_granger" -> {
      val d = "DECIMAL(38,12)"
      val k = 4
      val perRow =
        """SELECT yy AS y, lag(yy, 1) OVER (ORDER BY day) AS x0,
          |  lag(yy, 2) OVER (ORDER BY day) AS x1,
          |  lag(xx, 1) OVER (ORDER BY day) AS x2,
          |  lag(xx, 2) OVER (ORDER BY day) AS x3
          |FROM (
          |  SELECT day, np::DOUBLE AS yy, nc::DOUBLE AS xx FROM (
          |    SELECT ts::DATE AS day,
          |      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |        END)::BIGINT AS np,
          |      sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
          |        END)::BIGINT AS nc
          |    FROM events
          |    WHERE ts IS NOT NULL
          |      AND event_type IN ('purchase', 'click')
          |    GROUP BY 1))""".stripMargin
      val notNull = (Seq("y") ++ (0 until k).map(i => s"x$i"))
        .map(c => s"$c IS NOT NULL").mkString(" AND ")
      val momAggs = (Seq("count(*)::BIGINT AS n",
        s"sum(CAST(y AS $d))::DOUBLE AS sy",
        s"sum(CAST(y * y AS $d))::DOUBLE AS syy") ++
        (0 until k).map(i => s"sum(CAST(x$i AS $d))::DOUBLE AS sx$i") ++
        (0 until k).map(i =>
          s"sum(CAST(x$i * y AS $d))::DOUBLE AS sx${i}y") ++
        (for { i <- 0 until k; j <- i until k }
          yield s"sum(CAST(x$i * x$j AS $d))::DOUBLE AS sx${i}x$j"))
        .mkString(",\n    ")
      def initFor(idx: Seq[Int]): (Int, Int) => String = {
        val p = idx.size + 1
        (r, j) => {
          def gram(a: Int, b: Int): String =
            if (a == 0 && b == 0) "n::DOUBLE"
            else if (a == 0) s"sx${idx(b - 1)}"
            else {
              val (lo, hi) = (math.min(idx(a - 1), idx(b - 1)),
                math.max(idx(a - 1), idx(b - 1)))
              s"sx${lo}x$hi"
            }
          if (j < p) { if (j >= r) gram(r, j) else gram(j, r) }
          else if (j == p) {
            if (r == 0) "sy" else s"sx${idx(r - 1)}y"
          }
          else if (j == p + 1 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
        }
      }
      def rssSql(p: Int, fin: String, rhs: Seq[String]): String =
        (0 until p).foldLeft("pv.syy") { (acc, i) =>
          s"($acc - ($fin.g_${i}_$p * ${rhs(i)}))"
        }
      val rhsU = "pv.sy" +: (0 until 4).map(i => s"pv.sx${i}y")
      val rhsR = Seq("pv.sy", "pv.sx0y", "pv.sx1y")
      s"""WITH u AS MATERIALIZED ($perRow),
         |pv AS MATERIALIZED (
         |  SELECT $momAggs
         |  FROM u WHERE $notNull),
         |${gjChainSql(5, initFor(0 until 4), "pv", "uq")},
         |${gjChainSql(3, initFor(0 until 2), "pv", "rq")},
         |fin AS (SELECT pv.n AS n,
         |    ${rssSql(3, "r", rhsR)} AS rss_r,
         |    ${rssSql(5, "s", rhsU)} AS rss_u
         |  FROM uq5 s, rq3 r, pv)
         |SELECT n, 2 AS lags, round(rss_r, 6) AS rss_restricted,
         |  round(rss_u, 6) AS rss_unrestricted,
         |  CASE WHEN rss_u > 0.0::DOUBLE
         |    THEN round(((rss_r - rss_u) / 2.0::DOUBLE) /
         |      (rss_u / (n - 5)::DOUBLE), 6) END AS f_stat,
         |  2 AS df1, (n - 5)::BIGINT AS df2
         |FROM fin""".stripMargin
    },

    // 6-dp correlation grain -> the shared pivotless elimination over
    // [R | 0 | I]; VIF_j is the inverse diagonal
    "q276_vif" -> {
      val init: (Int, Int) => String = (r, j) =>
        if (j < 3) {
          if (r == j) "1.0::DOUBLE"
          else {
            val (lo, hi) = (math.min(r, j), math.max(r, j))
            s"r$lo$hi"
          }
        }
        else if (j == 4 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
      s"""WITH b AS (SELECT l_quantity::DOUBLE AS x0,
         |    l_extendedprice::DOUBLE AS x1, l_discount::DOUBLE AS x2
         |  FROM lineitem),
         |m AS (SELECT count(*)::DOUBLE AS n,
         |    sum(CAST(x0 AS DECIMAL(38,12)))::DOUBLE AS s0,
         |    sum(CAST(x0 * x0 AS DECIMAL(38,12)))::DOUBLE AS ss0,
         |    sum(CAST(x1 AS DECIMAL(38,12)))::DOUBLE AS s1,
         |    sum(CAST(x1 * x1 AS DECIMAL(38,12)))::DOUBLE AS ss1,
         |    sum(CAST(x2 AS DECIMAL(38,12)))::DOUBLE AS s2,
         |    sum(CAST(x2 * x2 AS DECIMAL(38,12)))::DOUBLE AS ss2,
         |    sum(CAST(x0 * x1 AS DECIMAL(38,12)))::DOUBLE AS p01,
         |    sum(CAST(x0 * x2 AS DECIMAL(38,12)))::DOUBLE AS p02,
         |    sum(CAST(x1 * x2 AS DECIMAL(38,12)))::DOUBLE AS p12
         |  FROM b),
         |rv AS (SELECT
         |    round((n * p01 - s0 * s1) / sqrt(n * ss0 - s0 * s0)
         |      / sqrt(n * ss1 - s1 * s1), 6) AS r01,
         |    round((n * p02 - s0 * s2) / sqrt(n * ss0 - s0 * s0)
         |      / sqrt(n * ss2 - s2 * s2), 6) AS r02,
         |    round((n * p12 - s1 * s2) / sqrt(n * ss1 - s1 * s1)
         |      / sqrt(n * ss2 - s2 * s2), 6) AS r12
         |  FROM m),
         |${gjChainSql(3, init, "rv", "v")}
         |SELECT * FROM (
         |  SELECT 0 AS term_idx, 'l_quantity' AS "column",
         |    round(g_0_4, 6) AS vif FROM v3
         |  UNION ALL SELECT 1, 'l_extendedprice', round(g_1_5, 6)
         |    FROM v3
         |  UNION ALL SELECT 2, 'l_discount', round(g_2_6, 6) FROM v3)
         |ORDER BY term_idx""".stripMargin
    },

    // full NB replay: SQL tokenizer, (class, term) counts, class
    // constants (prior, smoothed denominator), decimal-quantized log
    // fold, argmax on the 6-dp score with label tiebreak
    "q277_naive_bayes" ->
      """WITH trd AS (
        |  SELECT lang AS lab,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE lang IS NOT NULL),
        |trtok AS (SELECT lab, unnest(tk) AS term FROM trd),
        |model AS (SELECT lab, term, count(*)::BIGINT AS tf
        |          FROM trtok GROUP BY lab, term),
        |vf AS (SELECT count(DISTINCT term)::BIGINT AS v FROM model),
        |perlab AS (
        |  SELECT d.lab, d.ndocs, coalesce(m.tot, 0)::BIGINT AS tot
        |  FROM (SELECT lab, count(*)::BIGINT AS ndocs FROM trd
        |        GROUP BY lab) d
        |  LEFT JOIN (SELECT lab, sum(tf)::BIGINT AS tot FROM model
        |             GROUP BY lab) m ON m.lab = d.lab),
        |tot AS (SELECT count(*)::BIGINT AS nall FROM trd),
        |consts AS (SELECT lab,
        |    ln(ndocs::DOUBLE / nall::DOUBLE) AS prior,
        |    ln((tot + v)::DOUBLE) AS den
        |  FROM perlab, vf, tot),
        |ted AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |dlen AS (SELECT doc_id,
        |    (CASE WHEN tk IS NULL THEN 0 ELSE len(tk) END)::DOUBLE
        |      AS nd FROM ted),
        |dt AS (SELECT doc_id, unnest(tk) AS term, 1 AS one FROM ted),
        |dtc AS (SELECT doc_id, term, count(*)::BIGINT AS tfd
        |        FROM dt GROUP BY doc_id, term),
        |part AS (SELECT d.doc_id, m.lab,
        |    sum(CAST(d.tfd::DOUBLE * ln(m.tf::DOUBLE + 1.0::DOUBLE)
        |      AS DECIMAL(38,12))) AS s
        |  FROM dtc d JOIN model m ON m.term = d.term
        |  GROUP BY d.doc_id, m.lab),
        |scored AS (SELECT l.doc_id, c.lab,
        |    round((c.prior + coalesce(p.s::DOUBLE, 0.0::DOUBLE)) -
        |      l.nd * c.den, 6) AS score
        |  FROM dlen l CROSS JOIN consts c
        |  LEFT JOIN part p ON p.doc_id = l.doc_id AND p.lab = c.lab),
        |rk AS (SELECT doc_id, lab, score, row_number()
        |    OVER (PARTITION BY doc_id ORDER BY score DESC, lab) AS r
        |  FROM scored)
        |SELECT doc_id, lab AS pred, score FROM rk WHERE r = 1
        |ORDER BY doc_id""".stripMargin,

    // raw-stream adjacency pairs + unigram counts; PMI in the
    // operator's exact double shape; 6-dp tiebreak ordering
    "q278_collocations" -> {
      val stop = graft.ops.TextAnalysis.stopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(lower(trim(text)),
         |    '\\s+'), x -> x <> '') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |uni AS (SELECT unnest(t) AS w FROM toks),
         |uc AS (SELECT w, count(*)::BIGINT AS cw FROM uni GROUP BY w),
         |tt AS (SELECT sum(cw)::BIGINT AS T FROM uc),
         |prs AS (
         |  SELECT u.a AS w1, u.b AS w2 FROM (
         |    SELECT unnest([{'a': t[i], 'b': t[i + 1]}
         |      FOR i IN range(1, len(t))]) AS u
         |    FROM toks WHERE len(t) >= 2)),
         |pc AS (SELECT w1, w2, count(*)::BIGINT AS n_pair
         |       FROM prs GROUP BY w1, w2),
         |tp AS (SELECT sum(n_pair)::BIGINT AS P FROM pc),
         |kept AS (
         |  SELECT p.w1, p.w2, p.n_pair, a.cw AS c1, b.cw AS c2
         |  FROM pc p JOIN uc a ON a.w = p.w1 JOIN uc b ON b.w = p.w2
         |  WHERE p.n_pair >= 5
         |    AND p.w1 NOT IN ($stop) AND p.w2 NOT IN ($stop)
         |    AND length(p.w1) >= 2 AND length(p.w2) >= 2)
         |SELECT w1, w2, n_pair,
         |  round(ln((n_pair::DOUBLE / P::DOUBLE) /
         |    ((c1::DOUBLE / T::DOUBLE) * (c2::DOUBLE / T::DOUBLE))), 6)
         |    AS pmi
         |FROM kept, tp, tt
         |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin
    },

    // journeys -> transition matrix in SQL windows, then the 40-step
    // quantized chain unrolled once per scenario (base + one removal
    // per channel); every step's terms CAST to DECIMAL(38,12) before
    // the sum, exactly the operator's fold
    "q279_markov_attribution" -> {
      val channels = Seq("click", "error", "signup", "view")
      val steps = 40
      def chain(pfx: String, where: String): String = {
        val stepCtes = (1 to 40).map { k =>
          s"""$pfx$k AS MATERIALIZED (
             |  SELECT t.dst AS state,
             |    sum(CAST(m.p::DOUBLE * t.p AS DECIMAL(38,12))) AS p
             |  FROM $pfx${k - 1} m JOIN ${pfx}tr t ON t.src = m.state
             |  GROUP BY t.dst)""".stripMargin
        }.mkString(",\n")
        s"""${pfx}tr AS MATERIALIZED (SELECT * FROM trf $where),
           |${pfx}0 AS (SELECT '(start)' AS state,
           |  CAST(1.0::DOUBLE AS DECIMAL(38,12)) AS p),
           |$stepCtes,
           |${pfx}p AS (SELECT coalesce(
           |    max(CASE WHEN state = '(conv)' THEN p END)::DOUBLE,
           |    0.0::DOUBLE) AS p FROM $pfx$steps)""".stripMargin
      }
      val scen = channels.zipWithIndex.map { case (c, i) =>
        chain(s"c$i",
          s"WHERE src <> '$c' AND dst <> '$c'")
      }.mkString(",\n")
      val reRows = channels.zipWithIndex.map { case (c, i) =>
        s"SELECT '$c' AS channel, (SELECT p FROM c${i}p) AS pc"
      }.mkString("\nUNION ALL ")
      s"""WITH ev AS MATERIALIZED (
         |  SELECT user_id AS u, epoch_ms(ts)::BIGINT AS ms,
         |    event_id::BIGINT AS id, event_type AS ch,
         |    (event_type = 'purchase') AS conv
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         |fc AS MATERIALIZED (SELECT u, ms AS cms, id AS cid FROM (
         |  SELECT u, ms, id, row_number()
         |    OVER (PARTITION BY u ORDER BY ms, id) AS rn
         |  FROM ev WHERE conv) WHERE rn = 1),
         |tch AS MATERIALIZED (
         |  SELECT e.u, e.ms, e.id, e.ch
         |  FROM ev e LEFT JOIN fc ON fc.u = e.u
         |  WHERE NOT e.conv AND (fc.u IS NULL OR e.ms < fc.cms
         |    OR (e.ms = fc.cms AND e.id < fc.cid))),
         |inr AS (SELECT coalesce(lag(ch)
         |    OVER (PARTITION BY u ORDER BY ms, id), '(start)') AS src,
         |    ch AS dst FROM tch),
         |lst AS (SELECT u, ch AS lch FROM (
         |  SELECT u, ch, row_number()
         |    OVER (PARTITION BY u ORDER BY ms DESC, id DESC) AS rn
         |  FROM tch) WHERE rn = 1),
         |usr AS (SELECT DISTINCT u FROM ev),
         |trm AS (SELECT coalesce(l.lch, '(start)') AS src,
         |    CASE WHEN f.u IS NOT NULL THEN '(conv)'
         |      ELSE '(null)' END AS dst
         |  FROM usr LEFT JOIN lst l ON l.u = usr.u
         |  LEFT JOIN fc f ON f.u = usr.u),
         |trc AS (SELECT src, dst, count(*)::BIGINT AS cnt FROM (
         |  SELECT * FROM inr UNION ALL SELECT * FROM trm)
         |  GROUP BY src, dst),
         |tot AS (SELECT src, sum(cnt)::BIGINT AS t FROM trc
         |        GROUP BY src),
         |trf AS MATERIALIZED (
         |  SELECT c.src, c.dst, c.cnt::DOUBLE / t.t::DOUBLE AS p
         |  FROM trc c JOIN tot t ON t.src = c.src
         |  UNION ALL SELECT '(conv)', '(conv)', 1.0::DOUBLE
         |  UNION ALL SELECT '(null)', '(null)', 1.0::DOUBLE),
         |${chain("bb", "")},
         |$scen,
         |nc AS (SELECT count(*)::BIGINT AS n FROM fc),
         |re AS ($reRows),
         |r2 AS (SELECT channel, pc,
         |    (1.0::DOUBLE - pc / (SELECT p FROM bbp)) AS re FROM re),
         |se AS (SELECT sum(CAST(re AS DECIMAL(38,12)))::DOUBLE AS s
         |       FROM r2)
         |SELECT channel, round(pc, 6) AS p_conv_removed,
         |  round(re, 6) AS removal_effect,
         |  CASE WHEN s > 0.0::DOUBLE
         |    THEN round((re / s) * (SELECT n FROM nc)::DOUBLE, 6)
         |  END AS credit
         |FROM r2, se ORDER BY channel""".stripMargin
    },

    // grid cells + 3×3 probe join + exact ε filter, core counts,
    // reachability CC (the q184 device), min-id border adoption
    "q280_dbscan" ->
      """WITH RECURSIVE pts AS (
        |  SELECT vec_id AS id, embedding[1]::DOUBLE AS x,
        |    embedding[2]::DOUBLE AS y,
        |    floor(embedding[1]::DOUBLE / 0.05::DOUBLE)::BIGINT AS cx,
        |    floor(embedding[2]::DOUBLE / 0.05::DOUBLE)::BIGINT AS cy
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL),
        |off AS (SELECT a.dx, b.dy
        |  FROM (VALUES (-1), (0), (1)) a(dx),
        |       (VALUES (-1), (0), (1)) b(dy)),
        |probes AS (SELECT id AS ida, x AS xa, y AS ya,
        |    cx + dx AS cx, cy + dy AS cy FROM pts, off),
        |pairs AS MATERIALIZED (
        |  SELECT p.ida, q.id AS idb
        |  FROM probes p JOIN pts q ON q.cx = p.cx AND q.cy = p.cy
        |  WHERE (p.xa - q.x) * (p.xa - q.x) +
        |    (p.ya - q.y) * (p.ya - q.y)
        |    <= (0.05::DOUBLE * 0.05::DOUBLE)),
        |deg AS (SELECT ida, count(*)::BIGINT AS deg FROM pairs
        |        GROUP BY ida),
        |core AS MATERIALIZED (SELECT ida AS id FROM deg
        |                      WHERE deg >= 5),
        |ce AS (SELECT p.ida AS s, p.idb AS t FROM pairs p
        |  JOIN core a ON a.id = p.ida JOIN core b ON b.id = p.idb
        |  WHERE p.ida < p.idb),
        |e AS (SELECT s, t FROM ce UNION SELECT t, s FROM ce),
        |reach(node, r) AS (
        |  SELECT s, s FROM e
        |  UNION
        |  SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.node),
        |lab AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
        |corelab AS MATERIALIZED (
        |  SELECT c.id, coalesce(l.comp, c.id) AS cluster
        |  FROM core c LEFT JOIN lab l ON l.node = c.id),
        |border AS (
        |  SELECT p.ida AS id, min(p.idb) AS adopt FROM pairs p
        |  JOIN core b ON b.id = p.idb
        |  LEFT JOIN core a ON a.id = p.ida
        |  WHERE a.id IS NULL GROUP BY p.ida),
        |bl AS (SELECT border.id, cl.cluster FROM border
        |       JOIN corelab cl ON cl.id = border.adopt)
        |SELECT pts.id,
        |  CASE WHEN cl.id IS NOT NULL THEN 'core'
        |    WHEN bl.id IS NOT NULL THEN 'border'
        |    ELSE 'noise' END AS role,
        |  coalesce(cl.cluster, bl.cluster) AS cluster
        |FROM pts LEFT JOIN corelab cl ON cl.id = pts.id
        |LEFT JOIN bl ON bl.id = pts.id
        |ORDER BY pts.id""".stripMargin,

    // daily block maxima -> decimal moments -> method-of-moments
    // Gumbel location/scale and the return-level algebra in the
    // operator's exact double order
    "q281_gumbel" ->
      """WITH mx AS (
        |  SELECT max(o_totalprice::DOUBLE) AS m FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY o_orderdate::DATE),
        |m1 AS (SELECT count(*)::BIGINT AS n,
        |    sum(CAST(m AS DECIMAL(38,12)))::DOUBLE AS sm FROM mx),
        |mm AS (SELECT n, sm / n::DOUBLE AS mean FROM m1),
        |m2 AS (SELECT sum(CAST((m - mean) * (m - mean)
        |    AS DECIMAL(38,12)))::DOUBLE AS sd2 FROM mx, mm),
        |alg AS (SELECT n, mean, sqrt(sd2 / n::DOUBLE) AS sd
        |        FROM mm, m2),
        |fin AS (SELECT n,
        |    (mean - 0.5772156649015329::DOUBLE *
        |      (sd * sqrt(6.0::DOUBLE) / pi())) AS mu,
        |    (sd * sqrt(6.0::DOUBLE) / pi()) AS beta
        |  FROM alg)
        |SELECT n AS n_blocks, round(mu, 6) AS mu,
        |  round(beta, 6) AS beta,
        |  round(mu - beta * ln(-ln(1.0::DOUBLE -
        |    1.0::DOUBLE / 30.0::DOUBLE)), 6) AS level_30,
        |  round(mu - beta * ln(-ln(1.0::DOUBLE -
        |    1.0::DOUBLE / 365.0::DOUBLE)), 6) AS level_365
        |FROM fin""".stripMargin,

    // the q176 cohort device + an offset spine capped at the observed
    // horizon; revenue in exact DECIMAL, per-cohort running sum
    "q282_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id AS u, date_trunc('week', ts) AS wk,
        |    value AS v, (event_type = 'purchase') AS sp
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |mk AS (SELECT *, min(wk) OVER (PARTITION BY u) AS cohort_week
        |       FROM ev),
        |mo AS (SELECT *,
        |    (date_diff('day', cohort_week, wk) / 7)::INT AS week_offset
        |  FROM mk),
        |mof AS (SELECT * FROM mo WHERE week_offset <= 12),
        |sizes AS (SELECT cohort_week,
        |    count(DISTINCT u)::BIGINT AS cohort_size
        |  FROM mof GROUP BY cohort_week),
        |hz AS (SELECT max(wk) AS maxwk FROM mof),
        |spend AS (SELECT cohort_week, week_offset,
        |    count(DISTINCT u)::BIGINT AS n_buyers,
        |    sum(CAST(v AS DECIMAL(38,12))) AS rev
        |  FROM mof WHERE sp AND v IS NOT NULL
        |  GROUP BY cohort_week, week_offset),
        |spine AS (SELECT s.cohort_week, s.cohort_size,
        |    unnest(range(0, least(12,
        |      (date_diff('day', s.cohort_week, hz.maxwk) / 7)::INT)
        |      + 1))::INT AS week_offset
        |  FROM sizes s, hz),
        |j AS (SELECT sp.cohort_week, sp.week_offset, sp.cohort_size,
        |    coalesce(d.n_buyers, 0)::BIGINT AS n_buyers,
        |    coalesce(d.rev, CAST(0 AS DECIMAL(38,12))) AS rev
        |  FROM spine sp LEFT JOIN spend d
        |    ON d.cohort_week = sp.cohort_week
        |    AND d.week_offset = sp.week_offset)
        |SELECT cohort_week, week_offset, cohort_size, n_buyers,
        |  round(rev::DOUBLE, 6) AS revenue,
        |  round((sum(rev) OVER (PARTITION BY cohort_week
        |      ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW))::DOUBLE / cohort_size::DOUBLE, 6)
        |    AS cum_ltv_per_user
        |FROM j ORDER BY cohort_week, week_offset""".stripMargin,

    // q272's spine/moments replay; the two-sided CUSUM recursion rides
    // one recursive CTE state row (sp, sn), alarms on the 6-dp readout
    "q283_cusum_monitor" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_type AS key,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))::INT
        |      AS idx,
        |    count(*)::BIGINT AS n
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |ptf AS (SELECT * FROM pts WHERE idx >= 0 AND idx < 30),
        |keys AS (SELECT DISTINCT key FROM ptf),
        |spine AS (SELECT key, unnest(range(0, 30))::INT AS idx FROM keys),
        |xs AS (SELECT s.key, s.idx, coalesce(p.n, 0)::DOUBLE AS x
        |       FROM spine s LEFT JOIN ptf p
        |         ON p.key = s.key AND p.idx = s.idx),
        |mo AS (SELECT key, sum(x) / 30.0::DOUBLE AS mu
        |       FROM xs GROUP BY key),
        |sg AS (SELECT x.key,
        |    sqrt(sum(CAST((x.x - mu) * (x.x - mu)
        |      AS DECIMAL(38,12)))::DOUBLE / 30.0::DOUBLE) AS sigma
        |  FROM xs x JOIN mo ON mo.key = x.key GROUP BY x.key, mu),
        |cs AS (
        |  SELECT mo.key, -1 AS t, 0.0::DOUBLE AS sp, 0.0::DOUBLE AS sn
        |  FROM mo
        |  UNION ALL
        |  SELECT cs.key, cs.t + 1,
        |    greatest(0.0::DOUBLE,
        |      cs.sp + (x.x - mo.mu - 0.5::DOUBLE * sg.sigma)),
        |    greatest(0.0::DOUBLE,
        |      cs.sn + (mo.mu - x.x - 0.5::DOUBLE * sg.sigma))
        |  FROM cs JOIN xs x ON x.key = cs.key AND x.idx = cs.t + 1
        |  JOIN mo ON mo.key = cs.key JOIN sg ON sg.key = cs.key
        |  WHERE cs.t < 29)
        |SELECT c.key, c.t AS day_idx, x.x::BIGINT AS x,
        |  round(c.sp, 6) AS s_pos, round(c.sn, 6) AS s_neg,
        |  round(4.0::DOUBLE * sg.sigma, 6) AS "limit",
        |  (round(c.sp, 6) > round(4.0::DOUBLE * sg.sigma, 6) OR
        |   round(c.sn, 6) > round(4.0::DOUBLE * sg.sigma, 6)) AS alarm
        |FROM cs c JOIN xs x ON x.key = c.key AND x.idx = c.t
        |JOIN sg ON sg.key = c.key
        |WHERE c.t >= 0
        |ORDER BY c.key, c.t""".stripMargin,

    // per-key rates, two decimal moments passes, the Beta prior
    // algebra, and the shrink readout in the operator's double order
    "q284_eb_shrinkage" ->
      """WITH pk AS (
        |  SELECT user_id AS key, count(*)::BIGINT AS n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END)::BIGINT AS x
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |pr AS (SELECT key, n, x, x::DOUBLE / n::DOUBLE AS raw FROM pk),
        |m1 AS (SELECT count(*)::BIGINT AS k,
        |    sum(CAST(raw AS DECIMAL(38,12)))::DOUBLE AS sr FROM pr),
        |mm AS (SELECT k, sr / k::DOUBLE AS mean FROM m1),
        |m2 AS (SELECT sum(CAST((raw - mean) * (raw - mean)
        |    AS DECIMAL(38,12)))::DOUBLE AS sv FROM pr, mm),
        |prior AS (SELECT
        |    (mean * (1.0::DOUBLE - mean) / (sv / k::DOUBLE)
        |      - 1.0::DOUBLE) AS ab,
        |    mean * (mean * (1.0::DOUBLE - mean) / (sv / k::DOUBLE)
        |      - 1.0::DOUBLE) AS alpha
        |  FROM mm, m2)
        |SELECT key, n, x, round(raw, 6) AS raw_rate,
        |  round((x::DOUBLE + alpha) / (n::DOUBLE + ab), 6)
        |    AS shrunk_rate,
        |  round(alpha, 6) AS alpha, round(ab - alpha, 6) AS beta
        |FROM pr, prior ORDER BY key""".stripMargin,

    // demeaned partial sums + Bartlett long-run variance in the
    // operator's exact fold order; eta compared at 6 dp
    "q285_kpss" ->
      """WITH ds AS (
        |  SELECT ts::DATE AS day, count(*)::BIGINT AS nn
        |  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
        |  GROUP BY 1),
        |s1 AS (SELECT day, nn::DOUBLE AS y FROM ds),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(CAST(y AS DECIMAL(38,12)))::DOUBLE AS sy FROM s1),
        |mm AS (SELECT n, sy / n::DOUBLE AS mean FROM m),
        |e0 AS (SELECT day, (y - mean) AS e FROM s1, mm),
        |e1 AS (SELECT day, e,
        |    (sum(CAST(e AS DECIMAL(38,12))) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      ::DOUBLE AS S,
        |    lag(e, 1) OVER (ORDER BY day) AS el1,
        |    lag(e, 2) OVER (ORDER BY day) AS el2
        |  FROM e0),
        |agg AS (SELECT
        |    sum(CAST(S * S AS DECIMAL(38,12)))::DOUBLE AS ss2,
        |    sum(CAST(e * e AS DECIMAL(38,12)))::DOUBLE AS g0,
        |    sum(CAST(e * el1 AS DECIMAL(38,12)))::DOUBLE AS g1,
        |    sum(CAST(e * el2 AS DECIMAL(38,12)))::DOUBLE AS g2
        |  FROM e1),
        |lr AS (SELECT
        |    ((g0 / n::DOUBLE +
        |      (2.0::DOUBLE * (1.0::DOUBLE - 1.0::DOUBLE / 3.0::DOUBLE))
        |        * (g1 / n::DOUBLE)) +
        |      (2.0::DOUBLE * (1.0::DOUBLE - 2.0::DOUBLE / 3.0::DOUBLE))
        |        * (g2 / n::DOUBLE)) AS v,
        |    ss2, n
        |  FROM agg, mm)
        |SELECT n, 2 AS lags,
        |  CASE WHEN v > 0.0::DOUBLE
        |    THEN round((ss2 / (n::DOUBLE * n::DOUBLE)) / v, 6)
        |  END AS eta,
        |  CASE WHEN v > 0.0::DOUBLE
        |    THEN round((ss2 / (n::DOUBLE * n::DOUBLE)) / v, 6)
        |      < 0.463::DOUBLE
        |  END AS stationary
        |FROM lr""".stripMargin,

    // lag window gap flags -> running session index -> per-session
    // collapse, all on the (ms, id) order
    "q286_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_ms(ts)::BIGINT AS ms,
        |    event_id AS id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT u, ms, id,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |      OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY u ORDER BY ms, id)),
        |s AS (SELECT u, ms,
        |    (sum(brk) OVER (PARTITION BY u ORDER BY ms, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      ::BIGINT AS session_idx
        |  FROM g)
        |SELECT u AS "user", session_idx, count(*)::BIGINT AS n_events,
        |  min(ms)::BIGINT AS start_ms, max(ms)::BIGINT AS end_ms,
        |  (max(ms) - min(ms))::BIGINT AS duration_ms
        |FROM s GROUP BY u, session_idx
        |ORDER BY u, session_idx""".stripMargin,

    // one grouped count, the pooled-z / A&S-tail / unpooled-CI algebra
    // in the operator's exact double order
    "q287_two_proportion" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS g, count(*)::BIGINT AS n,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1
        |      ELSE 0 END)::BIGINT AS x
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY 1),
        |ab AS (SELECT
        |    max(CASE WHEN g = '1-URGENT' THEN n END)::BIGINT AS na,
        |    max(CASE WHEN g = '1-URGENT' THEN x END)::BIGINT AS xa,
        |    max(CASE WHEN g = '5-LOW' THEN n END)::BIGINT AS nb,
        |    max(CASE WHEN g = '5-LOW' THEN x END)::BIGINT AS xb
        |  FROM m),
        |a1 AS (SELECT na, xa, nb, xb,
        |    xa::DOUBLE / na::DOUBLE AS pa,
        |    xb::DOUBLE / nb::DOUBLE AS pb,
        |    (xa + xb)::DOUBLE / (na + nb)::DOUBLE AS pool FROM ab),
        |a2 AS (SELECT *, (pb - pa) AS diff FROM a1),
        |a3 AS (SELECT *,
        |    CASE WHEN pool > 0.0::DOUBLE AND pool < 1.0::DOUBLE
        |      THEN diff / sqrt(pool * (1.0::DOUBLE - pool) *
        |        (1.0::DOUBLE / na::DOUBLE + 1.0::DOUBLE / nb::DOUBLE))
        |    END AS zv,
        |    sqrt(pa * (1.0::DOUBLE - pa) / na::DOUBLE +
        |      pb * (1.0::DOUBLE - pb) / nb::DOUBLE) AS seu
        |  FROM a2),
        |a4 AS (SELECT *, abs(zv) AS ax,
        |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(zv))
        |      AS tt FROM a3)
        |SELECT na AS n_a, xa AS x_a, nb AS n_b, xb AS x_b,
        |  round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
        |  round(diff, 6) AS diff, round(zv, 6) AS z,
        |  CASE WHEN zv IS NOT NULL THEN
        |    round(least(1.0::DOUBLE, 2.0::DOUBLE *
        |      (exp(-ax * ax / 2.0::DOUBLE) /
        |        sqrt(2.0::DOUBLE * pi()) *
        |       (tt * (0.319381530::DOUBLE + tt * (-0.356563782::DOUBLE +
        |        tt * (1.781477937::DOUBLE + tt * (-1.821255978::DOUBLE +
        |        tt * 1.330274429::DOUBLE))))))), 6)
        |  END AS p_value,
        |  round(diff - 1.959963984540054::DOUBLE * seu, 6) AS ci_lo,
        |  round(diff + 1.959963984540054::DOUBLE * seu, 6) AS ci_hi
        |FROM a4""".stripMargin,

    // per-feature equal-width bins over [min,max], bin-grain counts
    // joined back, the fixed-order per-row negative-log-density sum
    "q288_hbos" ->
      """WITH b AS (
        |  SELECT (l_orderkey * 10 + l_linenumber)::BIGINT AS id,
        |    l_quantity::DOUBLE AS x0, l_extendedprice::DOUBLE AS x1,
        |    l_discount::DOUBLE AS x2
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
        |mm AS (SELECT count(*)::BIGINT AS n,
        |    min(x0) AS lo0, max(x0) AS hi0, min(x1) AS lo1,
        |    max(x1) AS hi1, min(x2) AS lo2, max(x2) AS hi2 FROM b),
        |bn AS (SELECT id,
        |    least(19, floor((x0 - lo0) /
        |      ((hi0 - lo0) / 20.0::DOUBLE))::INT) AS b0,
        |    least(19, floor((x1 - lo1) /
        |      ((hi1 - lo1) / 20.0::DOUBLE))::INT) AS b1,
        |    least(19, floor((x2 - lo2) /
        |      ((hi2 - lo2) / 20.0::DOUBLE))::INT) AS b2
        |  FROM b, mm),
        |c0 AS (SELECT b0, count(*)::BIGINT AS n0 FROM bn GROUP BY b0),
        |c1 AS (SELECT b1, count(*)::BIGINT AS n1 FROM bn GROUP BY b1),
        |c2 AS (SELECT b2, count(*)::BIGINT AS n2 FROM bn GROUP BY b2)
        |SELECT bn.id AS id,
        |  round(((-ln(n0::DOUBLE / n::DOUBLE)) +
        |    (-ln(n1::DOUBLE / n::DOUBLE))) +
        |    (-ln(n2::DOUBLE / n::DOUBLE)), 6) AS score,
        |  b0 AS l_quantity_bin, b1 AS l_extendedprice_bin,
        |  b2 AS l_discount_bin
        |FROM bn JOIN c0 USING (b0) JOIN c1 USING (b1)
        |JOIN c2 USING (b2), mm
        |ORDER BY score DESC, id LIMIT 100""".stripMargin,

    // loss differential d = e1^2 - e2^2 over the window-built
    // forecasts, then the KPSS-style Bartlett LRV and the A&S tail in
    // the operator's exact fold order
    "q289_dm_test" ->
      """WITH ds AS (
        |  SELECT ts::DATE AS day, count(*)::DOUBLE AS n
        |  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
        |  GROUP BY 1),
        |f AS (SELECT day, n,
        |    (n - lag(n, 1) OVER (ORDER BY day)) AS e1,
        |    (n - avg(n) OVER (ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS e2
        |  FROM ds),
        |ff AS (SELECT day, (e1 * e1 - e2 * e2) AS d FROM f
        |       WHERE e1 IS NOT NULL
        |         AND (e1 * e1 - e2 * e2) IS NOT NULL),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(CAST(d AS DECIMAL(38,12)))::DOUBLE AS sd FROM ff),
        |mm AS (SELECT n, sd / n::DOUBLE AS dbar FROM m),
        |e0 AS (SELECT day, (d - dbar) AS e FROM ff, mm),
        |e1c AS (SELECT day, e,
        |    lag(e, 1) OVER (ORDER BY day) AS el1,
        |    lag(e, 2) OVER (ORDER BY day) AS el2 FROM e0),
        |agg AS (SELECT
        |    sum(CAST(e * e AS DECIMAL(38,12)))::DOUBLE AS g0,
        |    sum(CAST(e * el1 AS DECIMAL(38,12)))::DOUBLE AS g1,
        |    sum(CAST(e * el2 AS DECIMAL(38,12)))::DOUBLE AS g2
        |  FROM e1c),
        |lr AS (SELECT
        |    ((g0 / n::DOUBLE +
        |      (2.0::DOUBLE * (1.0::DOUBLE - 1.0::DOUBLE / 3.0::DOUBLE))
        |        * (g1 / n::DOUBLE)) +
        |      (2.0::DOUBLE * (1.0::DOUBLE - 2.0::DOUBLE / 3.0::DOUBLE))
        |        * (g2 / n::DOUBLE)) AS v, n, dbar
        |  FROM agg, mm),
        |st AS (SELECT *, CASE WHEN v > 0.0::DOUBLE
        |    THEN dbar / sqrt(v / n::DOUBLE) END AS stat FROM lr),
        |p4 AS (SELECT *, abs(stat) AS ax,
        |    1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(stat))
        |      AS tt FROM st)
        |SELECT n, 2 AS lags, round(dbar, 6) AS d_bar,
        |  round(stat, 6) AS dm_stat,
        |  CASE WHEN stat IS NOT NULL THEN
        |    round(least(1.0::DOUBLE, 2.0::DOUBLE *
        |      (exp(-ax * ax / 2.0::DOUBLE) /
        |        sqrt(2.0::DOUBLE * pi()) *
        |       (tt * (0.319381530::DOUBLE + tt * (-0.356563782::DOUBLE +
        |        tt * (1.781477937::DOUBLE + tt * (-1.821255978::DOUBLE +
        |        tt * 1.330274429::DOUBLE))))))), 6)
        |  END AS p_value
        |FROM p4""".stripMargin,

    // demeaned pair products via the index self-join over lags -5..5
    "q290_ccf" ->
      """WITH ds AS (
        |  SELECT ts::DATE AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1
        |      ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END)::BIGINT AS y
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(CAST(x::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS sx,
        |    sum(CAST(y::DOUBLE AS DECIMAL(38,12)))::DOUBLE AS sy
        |  FROM ds),
        |dv AS (SELECT day, (x::DOUBLE - sx / n::DOUBLE) AS dx,
        |    (y::DOUBLE - sy / n::DOUBLE) AS dy FROM ds, m),
        |i AS (SELECT *, row_number() OVER (ORDER BY day) AS idx
        |      FROM dv),
        |ks AS (SELECT unnest(range(-5, 6)) AS lag),
        |lt AS (SELECT ks.lag, a.dx * p.dy AS term
        |  FROM i a JOIN ks ON TRUE
        |  JOIN i p ON p.idx = a.idx + ks.lag),
        |sums AS (SELECT lag, count(*)::BIGINT AS n_pairs,
        |    sum(CAST(term AS DECIMAL(38,12))) AS num
        |  FROM lt GROUP BY lag),
        |den AS (SELECT
        |    sum(CAST(dx * dx AS DECIMAL(38,12)))::DOUBLE AS vx,
        |    sum(CAST(dy * dy AS DECIMAL(38,12)))::DOUBLE AS vy FROM dv)
        |SELECT lag::INT AS lag, n_pairs,
        |  CASE WHEN vx > 0.0::DOUBLE AND vy > 0.0::DOUBLE
        |    THEN round(num::DOUBLE / sqrt(vx) / sqrt(vy), 6)
        |  END AS ccf
        |FROM sums, den ORDER BY lag""".stripMargin,

    // per-period cos/sin weighted sums off the 0-based index; is_peak
    // ranks the 6-dp powers (period breaks ties)
    "q291_periodogram" -> {
      val periods = Seq(3, 5, 7, 10, 14)
      val trig = periods.flatMap { p =>
        val c = s"(2.0::DOUBLE * pi() / ${p.toDouble}::DOUBLE)"
        Seq(
          s"sum(CAST(dev * cos(t * $c) AS DECIMAL(38,12)))::DOUBLE AS a$p",
          s"sum(CAST(dev * sin(t * $c) AS DECIMAL(38,12)))::DOUBLE AS b$p")
      }.mkString(",\n    ")
      val rows = periods.map { p =>
        s"SELECT $p AS period, round((a$p * a$p + b$p * b$p) " +
          s"/ nn::DOUBLE, 6) AS power FROM tr, m"
      }.mkString("\nUNION ALL ")
      s"""WITH ds AS (
         |  SELECT ts::DATE AS day, count(*)::BIGINT AS n
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |s1 AS (SELECT day, n::DOUBLE AS y FROM ds),
         |m AS (SELECT count(*)::BIGINT AS nn,
         |    sum(CAST(y AS DECIMAL(38,12)))::DOUBLE AS sy FROM s1),
         |ix AS (SELECT
         |    (row_number() OVER (ORDER BY day) - 1)::DOUBLE AS t,
         |    (y - sy / nn::DOUBLE) AS dev FROM s1, m),
         |tr AS (SELECT
         |    $trig
         |  FROM ix),
         |pw AS ($rows)
         |SELECT period, power,
         |  (rank() OVER (ORDER BY power DESC, period) = 1) AS is_peak
         |FROM pw ORDER BY period""".stripMargin
    },

    // one conditional-sum aggregation; lifts off the rounded means
    "q292_event_study" ->
      """WITH e AS (
        |  SELECT event_type AS key,
        |    date_diff('day', DATE '2024-01-16', ts::DATE)::INT AS d
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (SELECT key,
        |    sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    sum(CASE WHEN d >= 0 THEN 1 ELSE 0 END)::BIGINT AS np
        |  FROM e WHERE d >= -14 AND d < 14 GROUP BY key),
        |b AS (SELECT key,
        |    round(nb::DOUBLE / 14.0::DOUBLE, 6) AS base_mean,
        |    round(np::DOUBLE / 14.0::DOUBLE, 6) AS post_mean FROM g)
        |SELECT key, base_mean, post_mean,
        |  round(post_mean - base_mean, 6) AS abs_lift,
        |  CASE WHEN base_mean > 0.0::DOUBLE
        |    THEN round((post_mean - base_mean) / base_mean, 6)
        |  END AS pct_lift
        |FROM b ORDER BY key""".stripMargin,

    // the q167 cohort replay feeds the shared olsFit elimination; the
    // half-life transform runs on the ROUNDED slope (both faces)
    "q293_retention_halflife" -> {
      val perRow =
        """WITH uw AS (
          |  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk
          |  FROM events),
          |fw AS (SELECT u, min(wk) AS cohort_week FROM uw GROUP BY 1),
          |mm AS (
          |  SELECT cohort_week,
          |    (date_diff('day', cohort_week, wk) / 7)::INT
          |      AS week_offset,
          |    count(*) AS n_users
          |  FROM uw JOIN fw USING (u) GROUP BY 1, 2),
          |ss AS (
          |  SELECT *, max(CASE WHEN week_offset = 0 THEN n_users END)
          |    OVER (PARTITION BY cohort_week) AS cohort_size
          |  FROM mm),
          |rr AS (SELECT week_offset,
          |    round(n_users::DOUBLE / cohort_size, 6) AS ret FROM ss)
          |SELECT ln(ret) AS y, week_offset::DOUBLE AS x0
          |FROM rr WHERE week_offset >= 1 AND ret > 0.0::DOUBLE"""
          .stripMargin
      val ols = olsFitOracleSql(perRow, 1, Seq("w"))
      s"""SELECT s.n AS n_cells, s.coef AS slope, i.coef AS intercept,
         |  s.r2 AS r2,
         |  CASE WHEN s.coef < 0.0::DOUBLE
         |    THEN round(ln(2.0::DOUBLE) / -s.coef, 6)
         |  END AS half_life_weeks
         |FROM (
         |$ols
         |) s, (
         |$ols
         |) i WHERE s.term_idx = 1 AND i.term_idx = 0""".stripMargin
    },

    // two distinct collapses + one overlap join; Chapman + Seber
    // algebra in the operator's exact double order
    "q294_capture_recapture" ->
      """WITH a AS (SELECT DISTINCT user_id AS id FROM events
        |  WHERE user_id IS NOT NULL
        |    AND ts::DATE BETWEEN '2024-01-01' AND '2024-01-07'),
        |b AS (SELECT DISTINCT user_id AS id FROM events
        |  WHERE user_id IS NOT NULL
        |    AND ts::DATE BETWEEN '2024-01-08' AND '2024-01-14'),
        |c AS (SELECT (SELECT count(*) FROM a)::BIGINT AS n1,
        |  (SELECT count(*) FROM b)::BIGINT AS n2,
        |  (SELECT count(*) FROM a JOIN b USING (id))::BIGINT AS m),
        |alg AS (SELECT n1, n2, m,
        |    (((n1::DOUBLE + 1.0::DOUBLE) * (n2::DOUBLE + 1.0::DOUBLE))
        |      / (m::DOUBLE + 1.0::DOUBLE) - 1.0::DOUBLE) AS nh,
        |    sqrt((((n1::DOUBLE + 1.0::DOUBLE) *
        |      (n2::DOUBLE + 1.0::DOUBLE)) *
        |      (n1::DOUBLE - m::DOUBLE) * (n2::DOUBLE - m::DOUBLE)) /
        |      (((m::DOUBLE + 1.0::DOUBLE) * (m::DOUBLE + 1.0::DOUBLE))
        |        * (m::DOUBLE + 2.0::DOUBLE))) AS se
        |  FROM c)
        |SELECT n1, n2, m AS m_overlap, round(nh, 6) AS n_hat,
        |  round(se, 6) AS se,
        |  round(nh - 1.959963984540054::DOUBLE * se, 6) AS ci_lo,
        |  round(nh + 1.959963984540054::DOUBLE * se, 6) AS ci_hi
        |FROM alg""".stripMargin,

    // the q240 subject frame + six unrolled Newton steps on the
    // Breslow partial likelihood: per step an exp(xβ) projection,
    // time-grain decimal aggregates, suffix-window risk sums, the
    // quantized gradient/Hessian fold, and the k=1 elimination
    "q295_cox_ph" -> {
      val steps = (1 to 6).map { i =>
        s"""w$i AS (SELECT t, e, x0,
           |    exp(0.0::DOUBLE + (b.c0 * x0)) AS wg
           |  FROM pu2, bet${i - 1} b),
           |gr$i AS (SELECT t, sum(e)::BIGINT AS d,
           |    sum(CAST(CASE WHEN e = 1 THEN x0 ELSE 0.0::DOUBLE END
           |      AS DECIMAL(38,12))) AS sx0,
           |    sum(CAST(wg AS DECIMAL(38,12))) AS rw,
           |    sum(CAST(wg * x0 AS DECIMAL(38,12))) AS rwx0,
           |    sum(CAST(wg * x0 * x0 AS DECIMAL(38,12))) AS rwxx
           |  FROM w$i GROUP BY t),
           |sf$i AS (SELECT *,
           |    (sum(rw) OVER sfx)::DOUBLE AS S0,
           |    (sum(rwx0) OVER sfx)::DOUBLE AS S1,
           |    (sum(rwxx) OVER sfx)::DOUBLE AS S2
           |  FROM gr$i WINDOW sfx AS (ORDER BY t
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
           |mo$i AS (SELECT
           |    sum(CAST(sx0::DOUBLE - d::DOUBLE * (S1 / S0)
           |      AS DECIMAL(38,12)))::DOUBLE AS g0,
           |    sum(CAST(d::DOUBLE * (S2 / S0 - (S1 / S0) * (S1 / S0))
           |      AS DECIMAL(38,12)))::DOUBLE AS h00
           |  FROM sf$i WHERE d > 0),
           |bet$i AS MATERIALIZED (SELECT
           |    (b.c0 + (m.g0 / m.h00)) AS c0,
           |    (1.0::DOUBLE / m.h00) AS inv0
           |  FROM bet${i - 1} b, mo$i m)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id AS u,
         |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
         |a AS (SELECT u, min(ms) AS anchor FROM ev
         |      WHERE et = 'signup' GROUP BY u),
         |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
         |       WHERE ev.et = 'purchase' AND ev.ms >= a.anchor
         |       GROUP BY ev.u),
         |mx AS (SELECT max(ms) AS fin FROM ev),
         |pu AS (SELECT
         |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
         |      THEN 'A' ELSE 'B' END AS g,
         |    floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT
         |      AS t,
         |    CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e
         |  FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
         |pu2 AS MATERIALIZED (SELECT t, e,
         |    CASE WHEN g = 'B' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
         |      AS x0 FROM pu),
         |nn AS (SELECT count(*)::BIGINT AS n, sum(e)::BIGINT AS d
         |       FROM pu2),
         |bet0 AS (SELECT 0.0::DOUBLE AS c0, 0.0::DOUBLE AS inv0),
         |$steps
         |SELECT 0 AS term_idx, 'treated' AS term, nn.n AS n,
         |  nn.d AS n_events, round(b.c0, 6) AS coef,
         |  round(exp(b.c0), 6) AS hazard_ratio,
         |  round(sqrt(b.inv0), 6) AS se,
         |  CASE WHEN round(sqrt(b.inv0), 6) > 0.0::DOUBLE
         |    THEN round(b.c0 / sqrt(b.inv0), 6) END AS z
         |FROM bet6 b, nn""".stripMargin
    },

    // spine-free variance with the zero-days folded in analytically;
    // fano/flag on the shared double shapes
    "q296_burstiness" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*)::BIGINT AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |sp AS (SELECT (date_diff('day', min(day), max(day)) + 1)::BIGINT
        |         AS span FROM d),
        |pk AS (SELECT key, count(*)::BIGINT AS days_active,
        |    sum(n)::BIGINT AS tot,
        |    sum(CAST(n * n AS DECIMAL(38,12))) AS ss
        |  FROM d GROUP BY key),
        |alg AS (SELECT key, span, days_active,
        |    (tot::DOUBLE / span::DOUBLE) AS m,
        |    ((ss::DOUBLE - 2.0::DOUBLE * (tot::DOUBLE / span::DOUBLE)
        |        * tot::DOUBLE +
        |      span::DOUBLE * (tot::DOUBLE / span::DOUBLE) *
        |        (tot::DOUBLE / span::DOUBLE)) / span::DOUBLE) AS v
        |  FROM pk, sp)
        |SELECT key, span AS n_days, days_active, round(m, 6) AS mean,
        |  round(v, 6) AS variance,
        |  CASE WHEN m > 0.0::DOUBLE THEN round(v / m, 6) END AS fano,
        |  CASE WHEN m > 0.0::DOUBLE THEN round(v / m, 6) > 1.0::DOUBLE
        |  END AS overdispersed
        |FROM alg ORDER BY key""".stripMargin,

    // first-occurrence device + quantile_cont decile thresholds +
    // the q189 log-log moment fit over the non-degenerate points
    "q297_heaps_law" -> {
      val toks = (1 to 10).map(i =>
        s"sum(CASE WHEN doc_id::DOUBLE <= (SELECT qv[$i] FROM th) " +
          s"THEN ntok ELSE 0 END)::BIGINT AS tok_$i").mkString(",\n    ")
      val typs = (1 to 10).map(i =>
        s"count(CASE WHEN fd::DOUBLE <= (SELECT qv[$i] FROM th) " +
          s"THEN 1 END)::BIGINT AS typ_$i").mkString(",\n    ")
      val ptRows = (1 to 10).map(i =>
        s"SELECT $i AS decile, tok_$i AS tokens, typ_$i AS types " +
          "FROM tok, typ").mkString("\nUNION ALL ")
      s"""WITH b AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> x <> '') AS tk
         |  FROM documents WHERE doc_id IS NOT NULL),
         |pd AS (SELECT doc_id,
         |    (CASE WHEN tk IS NULL THEN 0 ELSE len(tk) END)::BIGINT
         |      AS ntok FROM b),
         |fo AS (SELECT unnest(tk) AS term, doc_id FROM b),
         |fo2 AS (SELECT term, min(doc_id)::BIGINT AS fd FROM fo
         |        GROUP BY term),
         |th AS (SELECT quantile_cont(doc_id::DOUBLE,
         |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0])
         |    AS qv FROM pd),
         |tok AS (SELECT
         |    $toks
         |  FROM pd),
         |typ AS (SELECT
         |    $typs
         |  FROM fo2),
         |pts AS ($ptRows),
         |ptf AS MATERIALIZED (SELECT * FROM pts
         |  WHERE tokens > 0 AND types > 0),
         |mm AS (SELECT count(*)::DOUBLE AS n,
         |    sum(CAST(ln(tokens::DOUBLE) AS DECIMAL(38,12)))::DOUBLE
         |      AS sx,
         |    sum(CAST(ln(types::DOUBLE) AS DECIMAL(38,12)))::DOUBLE
         |      AS sy,
         |    sum(CAST(ln(tokens::DOUBLE) * ln(tokens::DOUBLE)
         |      AS DECIMAL(38,12)))::DOUBLE AS sxx,
         |    sum(CAST(ln(types::DOUBLE) * ln(types::DOUBLE)
         |      AS DECIMAL(38,12)))::DOUBLE AS syy,
         |    sum(CAST(ln(tokens::DOUBLE) * ln(types::DOUBLE)
         |      AS DECIMAL(38,12)))::DOUBLE AS sxy
         |  FROM ptf),
         |fit AS (SELECT
         |    ((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS beta,
         |    sx, sy, n, sxx, syy, sxy FROM mm),
         |fit2 AS (SELECT beta,
         |    exp((sy - beta * sx) / n) AS k,
         |    ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
         |      ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
         |  FROM fit)
         |SELECT decile, tokens, types, round(beta, 6) AS beta,
         |  round(k, 6) AS k, round(r2, 6) AS r2
         |FROM ptf, fit2 ORDER BY decile""".stripMargin
    },

    // q273's Levinson chain through fin, then the deviation-space
    // recursion on the ROUNDED phis (the operator consumes arFit's
    // 6-dp readouts) from the last three observed days
    "q298_ar_forecast" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (SELECT key, day, n,
        |    count(*) OVER (PARTITION BY key) AS cnt,
        |    (sum(CAST(n AS DECIMAL(38,12))) OVER (PARTITION BY key))
        |      ::DOUBLE / (count(*) OVER (PARTITION BY key))::DOUBLE
        |      AS mean
        |  FROM d),
        |b2 AS (SELECT *, (n::DOUBLE - mean) AS dev FROM b),
        |b3 AS (SELECT *,
        |    sum(CAST(dev * dev AS DECIMAL(38,12)))
        |      OVER (PARTITION BY key) AS den
        |  FROM b2),
        |i AS (SELECT *, row_number()
        |        OVER (PARTITION BY key ORDER BY day) AS idx FROM b3),
        |ks AS (SELECT unnest(range(1, 4)) AS lag),
        |lt AS (
        |  SELECT a.key, a.den, ks.lag, a.dev * p.dev AS term
        |  FROM i a JOIN ks ON TRUE
        |    JOIN i p ON p.key = a.key AND p.idx = a.idx - ks.lag),
        |rk AS (
        |  SELECT key, lag, max(den) AS den,
        |    sum(CAST(term AS DECIMAL(38,12))) AS num
        |  FROM lt GROUP BY key, lag),
        |rr AS (SELECT key, lag,
        |    CASE WHEN den::DOUBLE > 0.0::DOUBLE
        |      THEN round(num::DOUBLE / den::DOUBLE, 6) END AS r
        |  FROM rk),
        |pv AS (SELECT key,
        |    max(CASE WHEN lag = 1 THEN r END) AS a1,
        |    max(CASE WHEN lag = 2 THEN r END) AS a2,
        |    max(CASE WHEN lag = 3 THEN r END) AS a3
        |  FROM rr GROUP BY key),
        |pvf AS (SELECT * FROM pv WHERE a1 IS NOT NULL
        |          AND a2 IS NOT NULL AND a3 IS NOT NULL),
        |l1 AS (SELECT key, a1, a2, a3, a1 AS k1,
        |    (1.0::DOUBLE - (a1 * a1)) AS e1 FROM pvf),
        |l2 AS (SELECT *, CASE WHEN e1 <> 0.0::DOUBLE
        |    THEN (a2 - (k1 * a1)) / e1 END AS k2 FROM l1),
        |l2b AS (SELECT *, (k1 - (k2 * k1)) AS p21, k2 AS p22,
        |    (e1 * (1.0::DOUBLE - (k2 * k2))) AS e2
        |  FROM l2 WHERE k2 IS NOT NULL),
        |l3 AS (SELECT *, CASE WHEN e2 <> 0.0::DOUBLE
        |    THEN (a3 - ((p21 * a2) + (p22 * a1))) / e2 END AS k3
        |  FROM l2b),
        |fin AS (SELECT key,
        |    round((p21 - (k3 * p22)), 6) AS p31,
        |    round((p22 - (k3 * p21)), 6) AS p32,
        |    round(k3, 6) AS p33
        |  FROM l3 WHERE k3 IS NOT NULL),
        |mu AS (SELECT key,
        |    sum(CAST(n AS DECIMAL(38,12)))::DOUBLE /
        |      count(*)::DOUBLE AS mean
        |  FROM d GROUP BY key),
        |lp AS (SELECT key, day, n, row_number()
        |    OVER (PARTITION BY key ORDER BY day DESC) AS rn FROM d),
        |dv AS (SELECT l.key,
        |    max(CASE WHEN rn = 1 THEN n::DOUBLE - mean END) AS d0,
        |    max(CASE WHEN rn = 2 THEN n::DOUBLE - mean END) AS d1,
        |    max(CASE WHEN rn = 3 THEN n::DOUBLE - mean END) AS d2
        |  FROM lp l JOIN mu ON mu.key = l.key WHERE rn <= 3
        |  GROUP BY l.key),
        |fc AS (SELECT f.key, mu.mean, dv.d0, dv.d1, dv.d2,
        |    f.p31, f.p32, f.p33,
        |    (((0.0::DOUBLE + (f.p31 * dv.d0)) + (f.p32 * dv.d1)) +
        |      (f.p33 * dv.d2)) AS f1
        |  FROM fin f JOIN dv ON dv.key = f.key
        |  JOIN mu ON mu.key = f.key),
        |fc2 AS (SELECT *,
        |    (((0.0::DOUBLE + (p31 * f1)) + (p32 * d0)) +
        |      (p33 * d1)) AS f2 FROM fc),
        |fc3 AS (SELECT *,
        |    (((0.0::DOUBLE + (p31 * f2)) + (p32 * f1)) +
        |      (p33 * d0)) AS f3 FROM fc2)
        |SELECT key, h, forecast FROM (
        |  SELECT key, 1 AS h, round(mean + f1, 6) AS forecast FROM fc3
        |  UNION ALL SELECT key, 2, round(mean + f2, 6) FROM fc3
        |  UNION ALL SELECT key, 3, round(mean + f3, 6) FROM fc3)
        |ORDER BY key, h""".stripMargin,

    // quantile_cont thresholds (the exact type-7 twin), inclusive
    // trim window, clamp for winsorize, second quantile pass for MAD
    "q299_robust_location" ->
      """WITH v AS (SELECT o_totalprice::DOUBLE AS x FROM orders
        |           WHERE o_totalprice IS NOT NULL),
        |th AS (SELECT quantile_cont(x, [0.05, 0.5, 0.95]) AS qv FROM v),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(CAST(x AS DECIMAL(38,12)))::DOUBLE AS s,
        |    count(CASE WHEN x >= (SELECT qv[1] FROM th)
        |      AND x <= (SELECT qv[3] FROM th) THEN 1 END)::BIGINT AS tn,
        |    sum(CAST(CASE WHEN x >= (SELECT qv[1] FROM th)
        |      AND x <= (SELECT qv[3] FROM th) THEN x
        |      ELSE 0.0::DOUBLE END AS DECIMAL(38,12)))::DOUBLE AS ts,
        |    sum(CAST(least(greatest(x, (SELECT qv[1] FROM th)),
        |      (SELECT qv[3] FROM th)) AS DECIMAL(38,12)))::DOUBLE AS ws
        |  FROM v),
        |md AS (SELECT quantile_cont(abs(x - (SELECT qv[2] FROM th)),
        |    0.5) AS mad FROM v)
        |SELECT n, round(s / n::DOUBLE, 6) AS mean,
        |  round(ts / tn::DOUBLE, 6) AS trimmed_mean,
        |  round(ws / n::DOUBLE, 6) AS winsorized_mean,
        |  round((SELECT qv[2] FROM th), 6) AS median,
        |  round(mad, 6) AS mad
        |FROM m, md""".stripMargin,

    // greedy-min-end growth unrolled once per length: per round the
    // pruned (user, pattern, end) state joins the positioned log on
    // pos > end, min(pos) per grown pattern, support prune at 120
    "q300_frequent_sequences" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS it,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pos
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |o1 AS MATERIALIZED (
        |  SELECT u, it AS pat, min(pos) AS e FROM ev GROUP BY u, it),
        |f1 AS MATERIALIZED (
        |  SELECT pat, count(*)::BIGINT AS support FROM o1 GROUP BY pat
        |  HAVING count(*) >= 120),
        |of1 AS MATERIALIZED (
        |  SELECT o.u, o.pat, o.e FROM o1 o JOIN f1 f ON f.pat = o.pat),
        |o2 AS MATERIALIZED (
        |  SELECT o.u, o.pat || '>' || e.it AS pat, min(e.pos) AS e
        |  FROM of1 o JOIN ev e ON e.u = o.u AND e.pos > o.e
        |  GROUP BY 1, 2),
        |f2 AS MATERIALIZED (
        |  SELECT pat, count(*)::BIGINT AS support FROM o2 GROUP BY pat
        |  HAVING count(*) >= 120),
        |of2 AS MATERIALIZED (
        |  SELECT o.u, o.pat, o.e FROM o2 o JOIN f2 f ON f.pat = o.pat),
        |o3 AS MATERIALIZED (
        |  SELECT o.u, o.pat || '>' || e.it AS pat, min(e.pos) AS e
        |  FROM of2 o JOIN ev e ON e.u = o.u AND e.pos > o.e
        |  GROUP BY 1, 2),
        |f3 AS (
        |  SELECT pat, count(*)::BIGINT AS support FROM o3 GROUP BY pat
        |  HAVING count(*) >= 120)
        |SELECT pat AS pattern, 1 AS length, support FROM f1
        |UNION ALL SELECT pat, 2, support FROM f2
        |UNION ALL SELECT pat, 3, support FROM f3
        |ORDER BY 2 ASC, 3 DESC, 1 ASC""".stripMargin,

    // two per-arm Gram chains (gjChainSql prefixes ga/gb) off ONE
    // pivoted moments row, then the segment-grain plug-in readout —
    // mu_a(seg) = beta_a0 + beta_a1 * xbar in the operator's exact
    // left-assoc double shapes
    "q301_uplift_tlearner" -> {
      val perRow =
        s"""SELECT t, y, engagement AS x0,
           |  CASE WHEN active_days >= 28.0::DOUBLE THEN 'high'
           |    ELSE 'low' END AS seg
           |FROM ($errTreatPerRowSql)""".stripMargin
      def armInit(arm: String): (Int, Int) => String = (r, j) =>
        if (j < 2) {
          if (r == 0 && j == 0) s"n$arm::DOUBLE"
          else if (r == 1 && j == 1) s"sx0x0$arm"
          else s"sx0$arm"
        }
        else if (j == 2) { if (r == 0) s"sy$arm" else s"sx0y$arm" }
        else if (j == 3 + r) "1.0::DOUBLE" else "0.0::DOUBLE"
      def mu(pfx: String) =
        s"$pfx.g_0_2 + $pfx.g_1_2 * (sx0 / n::DOUBLE)"
      s"""WITH u AS MATERIALIZED ($perRow),
         |mom AS MATERIALIZED (
         |  SELECT t, count(*)::BIGINT AS n,
         |    sum(CAST(y AS DECIMAL(38,12))) AS sy,
         |    sum(CAST(x0 AS DECIMAL(38,12))) AS sx0,
         |    sum(CAST(x0 * y AS DECIMAL(38,12))) AS sx0y,
         |    sum(CAST(x0 * x0 AS DECIMAL(38,12))) AS sx0x0
         |  FROM u WHERE t IS NOT NULL AND y IS NOT NULL
         |    AND x0 IS NOT NULL AND seg IS NOT NULL
         |  GROUP BY t),
         |pv AS MATERIALIZED (SELECT
         |    max(CASE WHEN t = 0.0::DOUBLE THEN n END)::BIGINT AS na,
         |    max(CASE WHEN t = 0.0::DOUBLE THEN sy END)::DOUBLE AS sya,
         |    max(CASE WHEN t = 0.0::DOUBLE THEN sx0 END)::DOUBLE AS sx0a,
         |    max(CASE WHEN t = 0.0::DOUBLE THEN sx0y END)::DOUBLE
         |      AS sx0ya,
         |    max(CASE WHEN t = 0.0::DOUBLE THEN sx0x0 END)::DOUBLE
         |      AS sx0x0a,
         |    max(CASE WHEN t = 1.0::DOUBLE THEN n END)::BIGINT AS nb,
         |    max(CASE WHEN t = 1.0::DOUBLE THEN sy END)::DOUBLE AS syb,
         |    max(CASE WHEN t = 1.0::DOUBLE THEN sx0 END)::DOUBLE AS sx0b,
         |    max(CASE WHEN t = 1.0::DOUBLE THEN sx0y END)::DOUBLE
         |      AS sx0yb,
         |    max(CASE WHEN t = 1.0::DOUBLE THEN sx0x0 END)::DOUBLE
         |      AS sx0x0b
         |  FROM mom),
         |${gjChainSql(2, armInit("a"), "pv", "ga")},
         |${gjChainSql(2, armInit("b"), "pv", "gb")},
         |sg AS (SELECT seg AS segment, count(*)::BIGINT AS n,
         |    sum(CAST(x0 AS DECIMAL(38,12)))::DOUBLE AS sx0
         |  FROM u WHERE t IS NOT NULL AND y IS NOT NULL
         |    AND x0 IS NOT NULL AND seg IS NOT NULL
         |  GROUP BY seg)
         |SELECT segment, n,
         |  round(${mu("ga2")}, 6) AS mu0_hat,
         |  round(${mu("gb2")}, 6) AS mu1_hat,
         |  round((${mu("gb2")}) - (${mu("ga2")}), 6) AS uplift
         |FROM sg, ga2, gb2
         |ORDER BY segment""".stripMargin
    },

    // q254's decomposition CTEs verbatim, then one key-grain variance
    // aggregation over the ROUNDED components — Hyndman's
    // F = max(0, 1 - Var(R)/Var(component + R)), population variances
    // from decimal-quantized moment sums
    "q302_seasonal_strength" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (SELECT *,
        |    CASE WHEN count(*) OVER w7 = 7 THEN
        |      (sum(n) OVER w7)::DOUBLE / 7.0::DOUBLE END AS trend,
        |    dayofweek(day) + 1 AS dow
        |  FROM d
        |  WINDOW w7 AS (PARTITION BY key ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |b2 AS (SELECT *, n::DOUBLE - trend AS detr FROM b),
        |s AS (SELECT key, dow,
        |    (sum(CAST(detr AS DECIMAL(38,12))))::DOUBLE /
        |      (count(*))::DOUBLE AS raw
        |  FROM b2 WHERE detr IS NOT NULL GROUP BY key, dow),
        |s2 AS (SELECT key, dow, raw -
        |    (sum(CAST(raw AS DECIMAL(38,12))) OVER (PARTITION BY key))
        |      ::DOUBLE / (count(*) OVER (PARTITION BY key))::DOUBLE
        |    AS adj
        |  FROM s),
        |comp AS MATERIALIZED (
        |  SELECT b2.key, round(trend, 6) AS tr, round(adj, 6) AS se,
        |    round(b2.n::DOUBLE - trend - adj, 6) AS re
        |  FROM b2 LEFT JOIN s2 ON s2.key = b2.key AND s2.dow = b2.dow
        |  WHERE round(trend, 6) IS NOT NULL),
        |g AS (SELECT key, count(*)::BIGINT AS n_days,
        |    sum(CAST(re AS DECIMAL(38,12)))::DOUBLE AS sr1,
        |    sum(CAST(re * re AS DECIMAL(38,12)))::DOUBLE AS sr2,
        |    sum(CAST(tr + re AS DECIMAL(38,12)))::DOUBLE AS st1,
        |    sum(CAST((tr + re) * (tr + re) AS DECIMAL(38,12)))::DOUBLE
        |      AS st2,
        |    sum(CAST(se + re AS DECIMAL(38,12)))::DOUBLE AS ss1,
        |    sum(CAST((se + re) * (se + re) AS DECIMAL(38,12)))::DOUBLE
        |      AS ss2,
        |    min(tr + re) AS tmin, max(tr + re) AS tmax,
        |    min(se + re) AS smin, max(se + re) AS smax
        |  FROM comp GROUP BY key),
        |v AS (SELECT key, n_days, tmin, tmax, smin, smax,
        |    ((sr2 - (sr1 * sr1) / n_days::DOUBLE) / n_days::DOUBLE)
        |      AS var_r,
        |    ((st2 - (st1 * st1) / n_days::DOUBLE) / n_days::DOUBLE)
        |      AS var_tr,
        |    ((ss2 - (ss1 * ss1) / n_days::DOUBLE) / n_days::DOUBLE)
        |      AS var_sr
        |  FROM g)
        |SELECT key, n_days,
        |  CASE WHEN tmin <> tmax AND var_tr > 0.0::DOUBLE THEN
        |    round(greatest(0.0::DOUBLE,
        |      1.0::DOUBLE - var_r / var_tr), 6) END AS trend_strength,
        |  CASE WHEN smin <> smax AND var_sr > 0.0::DOUBLE THEN
        |    round(greatest(0.0::DOUBLE,
        |      1.0::DOUBLE - var_r / var_sr), 6) END AS seasonal_strength
        |FROM v ORDER BY key""".stripMargin,

    // q197's scan replayed at both levels: full series, then inside
    // each (key, side) half tagged by the level-1 pick — every CUSUM
    // a decimal-quantized ordered window, picks row_number, side
    // means conditional aggs
    "q303_binary_segmentation" ->
      """WITH d AS MATERIALIZED (
        |  SELECT event_type AS key, ts::DATE AS dy, count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |m1 AS (SELECT key, sum(n) / count(*)::DOUBLE AS mean FROM d
        |       GROUP BY key),
        |c1 AS MATERIALIZED (SELECT d.key, dy, n,
        |    (sum(CAST(n - mean AS DECIMAL(38,12))) OVER
        |      (PARTITION BY d.key ORDER BY dy ROWS BETWEEN UNBOUNDED
        |       PRECEDING AND CURRENT ROW))::DOUBLE AS cusum
        |  FROM d JOIN m1 ON d.key = m1.key),
        |p1 AS (SELECT key, dy AS cd, round(abs(cusum), 6) AS mac,
        |    row_number() OVER (PARTITION BY key
        |      ORDER BY abs(cusum) DESC, dy) AS rn
        |  FROM c1),
        |l1 AS MATERIALIZED (SELECT c1.key, cd, mac,
        |    min(dy) AS seg_start, max(dy) AS seg_end,
        |    count(*)::BIGINT AS n_days,
        |    round(avg(CASE WHEN dy <= cd THEN n END), 6) AS mean_before,
        |    round(avg(CASE WHEN dy > cd THEN n END), 6) AS mean_after
        |  FROM c1 JOIN (SELECT * FROM p1 WHERE rn = 1) p
        |    ON c1.key = p.key
        |  GROUP BY c1.key, cd, mac),
        |d2 AS MATERIALIZED (SELECT d.key,
        |    CASE WHEN dy <= l1.cd THEN 'pre' ELSE 'post' END AS side,
        |    dy, n
        |  FROM d JOIN l1 ON l1.key = d.key),
        |m2 AS (SELECT key, side, sum(n) / count(*)::DOUBLE AS mean
        |       FROM d2 GROUP BY key, side),
        |c2 AS MATERIALIZED (SELECT d2.key, d2.side, dy, n,
        |    (sum(CAST(n - mean AS DECIMAL(38,12))) OVER
        |      (PARTITION BY d2.key, d2.side ORDER BY dy ROWS BETWEEN
        |       UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS cusum
        |  FROM d2 JOIN m2 ON m2.key = d2.key AND m2.side = d2.side),
        |p2 AS (SELECT key, side, dy AS cd, round(abs(cusum), 6) AS mac,
        |    row_number() OVER (PARTITION BY key, side
        |      ORDER BY abs(cusum) DESC, dy) AS rn
        |  FROM c2),
        |l2 AS (SELECT c2.key, c2.side, cd, mac,
        |    min(dy) AS seg_start, max(dy) AS seg_end,
        |    count(*)::BIGINT AS n_days,
        |    round(avg(CASE WHEN dy <= cd THEN n END), 6) AS mean_before,
        |    round(avg(CASE WHEN dy > cd THEN n END), 6) AS mean_after
        |  FROM c2 JOIN (SELECT * FROM p2 WHERE rn = 1) p
        |    ON c2.key = p.key AND c2.side = p.side
        |  GROUP BY c2.key, c2.side, cd, mac)
        |SELECT key, 1 AS level, 'all' AS segment, seg_start, seg_end,
        |  n_days, cd AS change_day, mac AS max_abs_cusum,
        |  mean_before, mean_after
        |FROM l1
        |UNION ALL
        |SELECT key, 2, side, seg_start, seg_end, n_days, cd, mac,
        |  mean_before, mean_after
        |FROM l2 WHERE n_days >= 2
        |ORDER BY key, level, segment""".stripMargin,

    // the q257 full-re-solve unroll with pinball weights: OLS start,
    // then 4 weighted-Gram eliminations with
    // w = (tau | 1-tau) / max(|r|, eps); loss = decimal pinball mean
    "q304_quantile_reg" -> {
      val xs = Seq("engagement", "active_days")
      val k = xs.size
      val p = k + 1
      val w = p + 1
      val d = "DECIMAL(38,12)"
      def linB(alias: String) =
        s"(($alias.g_0_$p + $alias.g_1_$p * engagement) + " +
          s"$alias.g_2_$p * active_days)"
      def elim(tag: String, from: String): String = {
        val steps = (0 until p).map { c =>
          val entries = (for { r <- 0 until p; j <- 0 until w } yield {
            val e2 =
              if (r == c) s"(g_${c}_$j / g_${c}_$c)"
              else s"(g_${r}_$j - (g_${r}_$c * (g_${c}_$j / g_${c}_$c)))"
            s"$e2 AS g_${r}_$j"
          }).mkString(",\n    ")
          val src = if (c == 0) s"${tag}0" else s"$tag$c"
          s"$tag${c + 1} AS (SELECT\n    $entries\n  FROM $src)"
        }.mkString(",\n")
        def init(r: Int, j: Int): String = {
          def gram(a: Int, b: Int): String =
            if (a == 0 && b == 0) "h_0_0"
            else s"h_${math.min(a, b)}_${math.max(a, b)}"
          if (j < p) gram(r, j) else s"g_$r"
        }
        val g0 = (for { r <- 0 until p; j <- 0 until w }
          yield s"${init(r, j)} AS g_${r}_$j").mkString(",\n    ")
        s"""${tag}0 AS (SELECT
           |    $g0
           |  FROM $from),
           |$steps""".stripMargin
      }
      def wMoments(tag: String, src: String): String = {
        def x(i: Int) = xs(i - 1)
        def hT(r: Int, c: Int) =
          if (r == 0 && c == 0) "w"
          else if (r == 0) s"w * ${x(c)}"
          else s"w * ${x(r)} * ${x(c)}"
        def gT(r: Int) = if (r == 0) "w * y" else s"w * ${x(r)} * y"
        val mom = (Seq("count(*)::BIGINT AS n") ++
          (for { r <- 0 until p; c <- r until p }
            yield s"sum(CAST(${hT(r, c)} AS $d))::DOUBLE AS h_${r}_$c") ++
          (0 until p).map(r =>
            s"sum(CAST(${gT(r)} AS $d))::DOUBLE AS g_$r"))
          .mkString(",\n    ")
        s"""$tag AS MATERIALIZED (SELECT
           |    $mom
           |  FROM ($src))""".stripMargin
      }
      val olsMom = wMoments("q0", "SELECT u.*, 1.0::DOUBLE AS w FROM u")
      def wExpr(bAlias: String) =
        s"""(CASE WHEN (y - ${linB(bAlias)}) > 0.0::DOUBLE
           |      THEN 0.5::DOUBLE ELSE 0.5::DOUBLE END) /
           |    greatest(abs(y - ${linB(bAlias)}), 1e-6::DOUBLE)"""
          .stripMargin
      val iters = (1 to 4).map { i =>
        val bSrc = if (i == 1) s"o$p" else s"e${i - 1}_$p"
        val rows =
          s"""SELECT u.*, ${wExpr("b")}
             |    AS w
             |  FROM u, $bSrc b""".stripMargin
        s"""${wMoments(s"q$i", rows)},
           |${elim(s"e${i}_", s"q$i")}"""
      }.mkString(",\n")
      s"""WITH u AS MATERIALIZED ($errTreatPerRowSql),
         |$olsMom,
         |${elim("o", "q0")},
         |$iters,
         |ls AS (SELECT (sum(CAST(
         |    CASE WHEN (y - ${linB("b")}) > 0.0::DOUBLE
         |      THEN 0.5::DOUBLE * (y - ${linB("b")})
         |      ELSE (-0.5::DOUBLE) * (y - ${linB("b")}) END
         |    AS $d)))::DOUBLE AS sl
         |  FROM u, e4_$p b)
         |SELECT t.term_idx, t.term, q4.n, 0.5::DOUBLE AS tau, t.coef,
         |  round(ls.sl / q4.n::DOUBLE, 6) AS loss
         |FROM (
         |  SELECT 0 AS term_idx, 'intercept' AS term,
         |    round(b.g_0_$p, 6) AS coef FROM e4_$p b
         |  UNION ALL SELECT 1, 'engagement', round(b.g_1_$p, 6)
         |    FROM e4_$p b
         |  UNION ALL SELECT 2, 'active_days', round(b.g_2_$p, 6)
         |    FROM e4_$p b) t, q4, ls
         |ORDER BY t.term_idx""".stripMargin
    },

    // counts -> uniform-prior Beta posteriors on the 4000-point
    // midpoint grid: log masses, max-shifted exp, decimal running CDF
    // and normalizers, the trapezoid-free midpoint cross sum
    "q305_prob_best" ->
      """WITH u AS MATERIALIZED (
        |  SELECT user_id,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS n_buy,
        |    CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS grp
        |  FROM events GROUP BY user_id),
        |cnt AS (SELECT grp, count(*)::BIGINT AS n,
        |    count(CASE WHEN n_buy >= 14 THEN 1 END)::BIGINT AS c
        |  FROM u GROUP BY grp),
        |pv AS MATERIALIZED (SELECT
        |    max(CASE WHEN grp = 'A' THEN n END)::BIGINT AS na,
        |    max(CASE WHEN grp = 'A' THEN c END)::BIGINT AS ca,
        |    max(CASE WHEN grp = 'B' THEN n END)::BIGINT AS nb,
        |    max(CASE WHEN grp = 'B' THEN c END)::BIGINT AS cb
        |  FROM cnt),
        |grid AS (SELECT (i::DOUBLE - 0.5::DOUBLE) / 4000.0::DOUBLE AS p
        |  FROM range(1, 4001) t(i)),
        |g2 AS MATERIALIZED (SELECT p,
        |    ca::DOUBLE * ln(p) +
        |      (na - ca)::DOUBLE * ln(1.0::DOUBLE - p) AS la,
        |    cb::DOUBLE * ln(p) +
        |      (nb - cb)::DOUBLE * ln(1.0::DOUBLE - p) AS lb
        |  FROM grid, pv),
        |mx AS (SELECT max(la) AS ma, max(lb) AS mb FROM g2),
        |g3 AS MATERIALIZED (SELECT p, exp(la - ma) AS ta,
        |    exp(lb - mb) AS tb
        |  FROM g2, mx),
        |g4 AS (SELECT p, ta, tb,
        |    coalesce((sum(CAST(ta AS DECIMAL(38,12))) OVER
        |      (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND
        |       1 PRECEDING))::DOUBLE, 0.0::DOUBLE) AS cuma,
        |    coalesce((sum(CAST(ta AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sa1,
        |    coalesce((sum(CAST(ta * p AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sa2,
        |    coalesce((sum(CAST(tb AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sb1,
        |    coalesce((sum(CAST(tb * p AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sb2
        |  FROM g3
        |  WINDOW sfx AS (ORDER BY p ROWS BETWEEN 1 FOLLOWING AND
        |    UNBOUNDED FOLLOWING)),
        |agg AS (SELECT
        |    (sum(CAST(ta AS DECIMAL(38,12))))::DOUBLE AS za,
        |    (sum(CAST(tb AS DECIMAL(38,12))))::DOUBLE AS zb,
        |    (sum(CAST(tb * (cuma + ta / 2.0::DOUBLE)
        |      AS DECIMAL(38,12))))::DOUBLE AS num,
        |    (sum(CAST(ta * (sb2 - p * sb1)
        |      AS DECIMAL(38,12))))::DOUBLE AS ela,
        |    (sum(CAST(tb * (sa2 - p * sa1)
        |      AS DECIMAL(38,12))))::DOUBLE AS elb
        |  FROM g4)
        |SELECT 'A' AS group_a, na AS n_a, ca AS conv_a,
        |  round(ca::DOUBLE / na::DOUBLE, 6) AS rate_a,
        |  'B' AS group_b, nb AS n_b, cb AS conv_b,
        |  round(cb::DOUBLE / nb::DOUBLE, 6) AS rate_b,
        |  round(num / (za * zb), 6) AS prob_b_beats_a,
        |  round(ela / (za * zb), 6) AS exp_loss_a,
        |  round(elb / (za * zb), 6) AS exp_loss_b
        |FROM agg, pv""".stripMargin,

    // the q251 curve CTEs, then exact step-function area: per curve
    // row S(prev)·(t − prev) (+ the last row's tail to tau), decimal-
    // quantized per row, ONE group sum; empty truncation → tau
    "q306_rmst" ->
      """WITH ev AS (SELECT user_id AS u,
        |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
        |a AS (SELECT u, min(ms) AS anchor FROM ev
        |      WHERE et = 'signup' GROUP BY u),
        |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
        |       WHERE ev.et = 'purchase' AND ev.ms >= a.anchor
        |       GROUP BY ev.u),
        |mx AS (SELECT max(ms) AS fin FROM ev),
        |pu AS (SELECT
        |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS g,
        |    floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT AS t,
        |    CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e
        |  FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
        |km AS (SELECT g, t, sum(e)::BIGINT AS n_events,
        |         sum(1 - e)::BIGINT AS n_censored FROM pu GROUP BY g, t),
        |w AS (SELECT g, t, n_events, n_censored,
        |    (sum(n_events + n_censored) OVER (PARTITION BY g)
        |     - coalesce(sum(n_events + n_censored) OVER
        |         (PARTITION BY g ORDER BY t ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_at_risk
        |  FROM km),
        |s AS (SELECT *,
        |    CASE WHEN n_events < n_at_risk THEN
        |      CAST(ln(1 - n_events::DOUBLE / n_at_risk)
        |        AS DECIMAL(38,12)) END AS lnq
        |  FROM w),
        |curve AS MATERIALIZED (SELECT g AS grp, t::DOUBLE AS t,
        |    CASE WHEN n_events = n_at_risk THEN 0.0
        |      ELSE round(exp((sum(lnq) OVER (PARTITION BY g ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |        ::DOUBLE), 6)
        |    END AS survival
        |  FROM s),
        |gs AS (SELECT DISTINCT grp FROM curve),
        |seg AS (SELECT grp,
        |    CAST(ps * (t - pt) + CASE WHEN lastrow
        |      THEN survival * (168.0::DOUBLE - t)
        |      ELSE 0.0::DOUBLE END AS DECIMAL(38,12)) AS aa,
        |    CASE WHEN lastrow THEN survival END AS stau
        |  FROM (SELECT grp, t, survival,
        |      coalesce(lag(t) OVER wd, 0.0::DOUBLE) AS pt,
        |      coalesce(lag(survival) OVER wd, 1.0::DOUBLE) AS ps,
        |      lead(t) OVER wd IS NULL AS lastrow
        |    FROM curve WHERE t <= 168.0::DOUBLE
        |    WINDOW wd AS (PARTITION BY grp ORDER BY t))),
        |ag AS (SELECT grp, (sum(aa))::DOUBLE AS r, max(stau) AS s2
        |       FROM seg GROUP BY grp)
        |SELECT gs.grp, 168.0::DOUBLE AS tau,
        |  round(coalesce(r, 168.0::DOUBLE), 6) AS rmst,
        |  round(coalesce(s2, 1.0::DOUBLE), 6) AS survival_at_tau
        |FROM gs LEFT JOIN ag ON ag.grp = gs.grp
        |ORDER BY gs.grp""".stripMargin,

    // the q305 grid device generalized to three arms on NORMALIZED
    // masses: per-arm decimal prefix CDFs (exclusive + inclusive),
    // max-of-others pmf as the CDF-product difference, suffix moments,
    // one decimal fold per arm for P(best) and expected loss
    "q307_prob_best_multi" ->
      """WITH u AS MATERIALIZED (
        |  SELECT user_id,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS n_buy,
        |    CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) < '6'
        |      THEN 'A'
        |      WHEN substring(md5(user_id::VARCHAR), 1, 1) < 'b'
        |      THEN 'B' ELSE 'C' END AS grp
        |  FROM events GROUP BY user_id),
        |cnt AS (SELECT grp, count(*)::BIGINT AS n,
        |    count(CASE WHEN n_buy >= 14 THEN 1 END)::BIGINT AS c
        |  FROM u GROUP BY grp),
        |pv AS MATERIALIZED (SELECT
        |    max(CASE WHEN grp = 'A' THEN n END)::BIGINT AS na,
        |    max(CASE WHEN grp = 'A' THEN c END)::BIGINT AS ca,
        |    max(CASE WHEN grp = 'B' THEN n END)::BIGINT AS nb,
        |    max(CASE WHEN grp = 'B' THEN c END)::BIGINT AS cb,
        |    max(CASE WHEN grp = 'C' THEN n END)::BIGINT AS nc,
        |    max(CASE WHEN grp = 'C' THEN c END)::BIGINT AS cc
        |  FROM cnt),
        |grid AS (SELECT (i::DOUBLE - 0.5::DOUBLE) / 4000.0::DOUBLE AS p
        |  FROM range(1, 4001) t(i)),
        |g2 AS MATERIALIZED (SELECT p,
        |    ca::DOUBLE * ln(p) +
        |      (na - ca)::DOUBLE * ln(1.0::DOUBLE - p) AS la,
        |    cb::DOUBLE * ln(p) +
        |      (nb - cb)::DOUBLE * ln(1.0::DOUBLE - p) AS lb,
        |    cc::DOUBLE * ln(p) +
        |      (nc - cc)::DOUBLE * ln(1.0::DOUBLE - p) AS lc
        |  FROM grid, pv),
        |mx AS (SELECT max(la) AS ma, max(lb) AS mb, max(lc) AS mc
        |  FROM g2),
        |g3 AS MATERIALIZED (SELECT p, exp(la - ma) AS ta,
        |    exp(lb - mb) AS tb, exp(lc - mc) AS tc
        |  FROM g2, mx),
        |zs AS (SELECT
        |    (sum(CAST(ta AS DECIMAL(38,12))))::DOUBLE AS za,
        |    (sum(CAST(tb AS DECIMAL(38,12))))::DOUBLE AS zb,
        |    (sum(CAST(tc AS DECIMAL(38,12))))::DOUBLE AS zc
        |  FROM g3),
        |g3n AS MATERIALIZED (SELECT p, ta / za AS ua, tb / zb AS ub,
        |    tc / zc AS uc FROM g3, zs),
        |g4 AS MATERIALIZED (SELECT p, ua, ub, uc,
        |    coalesce((sum(CAST(ua AS DECIMAL(38,12))) OVER prev)
        |      ::DOUBLE, 0.0::DOUBLE) AS cpa,
        |    (sum(CAST(ua AS DECIMAL(38,12))) OVER incl)::DOUBLE AS cia,
        |    coalesce((sum(CAST(ub AS DECIMAL(38,12))) OVER prev)
        |      ::DOUBLE, 0.0::DOUBLE) AS cpb,
        |    (sum(CAST(ub AS DECIMAL(38,12))) OVER incl)::DOUBLE AS cib,
        |    coalesce((sum(CAST(uc AS DECIMAL(38,12))) OVER prev)
        |      ::DOUBLE, 0.0::DOUBLE) AS cpc,
        |    (sum(CAST(uc AS DECIMAL(38,12))) OVER incl)::DOUBLE AS cic
        |  FROM g3n
        |  WINDOW prev AS (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING),
        |    incl AS (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW)),
        |g5 AS MATERIALIZED (SELECT *,
        |    cib * cic - cpb * cpc AS qma,
        |    cia * cic - cpa * cpc AS qmb,
        |    cia * cib - cpa * cpb AS qmc
        |  FROM g4),
        |g6 AS MATERIALIZED (SELECT *,
        |    coalesce((sum(CAST(qma AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sm1a,
        |    coalesce((sum(CAST(qma * p AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sm2a,
        |    coalesce((sum(CAST(qmb AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sm1b,
        |    coalesce((sum(CAST(qmb * p AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sm2b,
        |    coalesce((sum(CAST(qmc AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sm1c,
        |    coalesce((sum(CAST(qmc * p AS DECIMAL(38,12))) OVER sfx)
        |      ::DOUBLE, 0.0::DOUBLE) AS sm2c
        |  FROM g5
        |  WINDOW sfx AS (ORDER BY p ROWS BETWEEN 1 FOLLOWING AND
        |    UNBOUNDED FOLLOWING)),
        |agg AS (SELECT
        |    (sum(CAST(ua * ((cpb + ub / 2.0::DOUBLE) *
        |      (cpc + uc / 2.0::DOUBLE)) AS DECIMAL(38,12))))::DOUBLE
        |      AS pba,
        |    (sum(CAST(ub * ((cpa + ua / 2.0::DOUBLE) *
        |      (cpc + uc / 2.0::DOUBLE)) AS DECIMAL(38,12))))::DOUBLE
        |      AS pbb,
        |    (sum(CAST(uc * ((cpa + ua / 2.0::DOUBLE) *
        |      (cpb + ub / 2.0::DOUBLE)) AS DECIMAL(38,12))))::DOUBLE
        |      AS pbc,
        |    (sum(CAST(ua * (sm2a - p * sm1a) AS DECIMAL(38,12))))
        |      ::DOUBLE AS ela,
        |    (sum(CAST(ub * (sm2b - p * sm1b) AS DECIMAL(38,12))))
        |      ::DOUBLE AS elb,
        |    (sum(CAST(uc * (sm2c - p * sm1c) AS DECIMAL(38,12))))
        |      ::DOUBLE AS elc
        |  FROM g6)
        |SELECT 'A' AS "group", na AS n, ca AS conv,
        |  round(ca::DOUBLE / na::DOUBLE, 6) AS rate,
        |  round(pba, 6) AS prob_best, round(ela, 6) AS exp_loss
        |FROM agg, pv
        |UNION ALL
        |SELECT 'B', nb, cb, round(cb::DOUBLE / nb::DOUBLE, 6),
        |  round(pbb, 6), round(elb, 6) FROM agg, pv
        |UNION ALL
        |SELECT 'C', nc, cc, round(cc::DOUBLE / nc::DOUBLE, 6),
        |  round(pbc, 6), round(elc, 6) FROM agg, pv
        |ORDER BY "group"""".stripMargin,

    // the q300 chain, then each length-ge-2 pattern split on its last
    // '>' and joined to its antecedent's support for the confidence
    "q313_sequence_rules" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS it,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pos
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |o1 AS MATERIALIZED (
        |  SELECT u, it AS pat, min(pos) AS e FROM ev GROUP BY u, it),
        |f1 AS MATERIALIZED (
        |  SELECT pat, count(*)::BIGINT AS support FROM o1 GROUP BY pat
        |  HAVING count(*) >= 120),
        |of1 AS MATERIALIZED (
        |  SELECT o.u, o.pat, o.e FROM o1 o JOIN f1 f ON f.pat = o.pat),
        |o2 AS MATERIALIZED (
        |  SELECT o.u, o.pat || '>' || e.it AS pat, min(e.pos) AS e
        |  FROM of1 o JOIN ev e ON e.u = o.u AND e.pos > o.e
        |  GROUP BY 1, 2),
        |f2 AS MATERIALIZED (
        |  SELECT pat, count(*)::BIGINT AS support FROM o2 GROUP BY pat
        |  HAVING count(*) >= 120),
        |of2 AS MATERIALIZED (
        |  SELECT o.u, o.pat, o.e FROM o2 o JOIN f2 f ON f.pat = o.pat),
        |o3 AS MATERIALIZED (
        |  SELECT o.u, o.pat || '>' || e.it AS pat, min(e.pos) AS e
        |  FROM of2 o JOIN ev e ON e.u = o.u AND e.pos > o.e
        |  GROUP BY 1, 2),
        |f3 AS (
        |  SELECT pat, count(*)::BIGINT AS support FROM o3 GROUP BY pat
        |  HAVING count(*) >= 120),
        |ru AS (
        |  SELECT regexp_replace(r.pat, '>[^>]*$', '') AS antecedent,
        |    regexp_extract(r.pat, '[^>]*$') AS consequent,
        |    r.length, r.support, p.support AS prefix_support,
        |    round(r.support::DOUBLE / p.support::DOUBLE, 6)
        |      AS confidence
        |  FROM (SELECT pat, 2 AS length, support FROM f2
        |        UNION ALL SELECT pat, 3, support FROM f3) r
        |  JOIN (SELECT pat, support FROM f1
        |        UNION ALL SELECT pat, support FROM f2) p
        |    ON p.pat = regexp_replace(r.pat, '>[^>]*$', ''))
        |SELECT antecedent, consequent, length, support,
        |  prefix_support, confidence
        |FROM ru WHERE confidence >= 0.5::DOUBLE
        |ORDER BY length, confidence DESC, antecedent, consequent"""
        .stripMargin,

    // the q300 rounds with ALL match ends carried (no min(pos)
    // collapse — min-end is inexact under a gap), the <= 2-position
    // gap predicate on each growth join, DISTINCT-user support
    "q311_sequences_gapped" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS it,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pos
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |f1 AS MATERIALIZED (
        |  SELECT it AS pat, count(DISTINCT u)::BIGINT AS support
        |  FROM ev GROUP BY it HAVING count(DISTINCT u) >= 100),
        |of1 AS MATERIALIZED (
        |  SELECT e.u, e.it AS pat, e.pos AS e FROM ev e
        |  JOIN f1 f ON f.pat = e.it),
        |o2 AS MATERIALIZED (
        |  SELECT DISTINCT o.u, o.pat || '>' || e.it AS pat, e.pos AS e
        |  FROM of1 o JOIN ev e ON e.u = o.u AND e.pos > o.e
        |    AND e.pos - o.e <= 2),
        |f2 AS MATERIALIZED (
        |  SELECT pat, count(DISTINCT u)::BIGINT AS support FROM o2
        |  GROUP BY pat HAVING count(DISTINCT u) >= 100),
        |of2 AS MATERIALIZED (
        |  SELECT o.u, o.pat, o.e FROM o2 o JOIN f2 f ON f.pat = o.pat),
        |o3 AS MATERIALIZED (
        |  SELECT DISTINCT o.u, o.pat || '>' || e.it AS pat, e.pos AS e
        |  FROM of2 o JOIN ev e ON e.u = o.u AND e.pos > o.e
        |    AND e.pos - o.e <= 2),
        |f3 AS (
        |  SELECT pat, count(DISTINCT u)::BIGINT AS support FROM o3
        |  GROUP BY pat HAVING count(DISTINCT u) >= 100)
        |SELECT pat AS pattern, 1 AS length, support FROM f1
        |UNION ALL SELECT pat, 2, support FROM f2
        |UNION ALL SELECT pat, 3, support FROM f3
        |ORDER BY 2 ASC, 3 DESC, 1 ASC""".stripMargin,

    // the q306 subject-frame device with a purchase-vs-error race
    // (ties to purchase), then the AJ product: all-cause KM windows
    // for S(t-) and S(t), a (g,t,cause) grain join, decimal-quantized
    // S(t-)*d_c/n terms, per-(g,cause) running incidence
    "q309_competing_risks" ->
      s"""WITH $ajOracleBase
        |SELECT g AS grp, t::DOUBLE AS t, cause, nr AS n_at_risk,
        |  dc AS n_events, survival, cif
        |FROM cv ORDER BY grp, cause, t""".stripMargin,

    // the q309 curve truncated at tau = 168: per (g, cause) row
    // CIF(t)·(min(next_t, tau) − t), decimal-quantized, one group
    // fold + the last row's CIF — Andersen's "time lost" integral
    "q314_rmtl" ->
      s"""WITH $ajOracleBase,
        |fl AS (SELECT g, cause, t::DOUBLE AS t, cif FROM cv
        |  WHERE t::DOUBLE <= 168.0::DOUBLE),
        |seg AS (SELECT g, cause, cif, t,
        |    coalesce(lead(t) OVER w, 168.0::DOUBLE) AS nt,
        |    lead(t) OVER w IS NULL AS lastrow
        |  FROM fl WINDOW w AS (PARTITION BY g, cause ORDER BY t))
        |SELECT g AS grp, cause, 168.0::DOUBLE AS tau,
        |  round((sum(CAST(cif * (nt - t) AS DECIMAL(38,12))))::DOUBLE,
        |    6) AS rmtl,
        |  round(max(CASE WHEN lastrow THEN cif END), 6) AS cif_at_tau
        |FROM seg GROUP BY g, cause ORDER BY grp, cause""".stripMargin,

    // the q179 distinct-collapse + basket rail + pair self-join, pairs
    // mirrored to both directions, cosine/lift in the operator's exact
    // double shapes, per-item rank window on the 6-dp cosine
    "q315_item_similarity" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= 1000),
        |kept AS (SELECT bi.b, bi.i FROM bi SEMI JOIN ok ON bi.b = ok.b),
        |n AS (SELECT count(DISTINCT b) AS nb FROM kept),
        |ic AS (SELECT i, count(*) AS c FROM kept GROUP BY i),
        |h AS (SELECT a.i AS item, b.i AS neighbor, count(*) AS n_both
        |      FROM kept a JOIN kept b ON a.b = b.b AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |p AS (SELECT item, neighbor, n_both FROM h
        |      UNION ALL SELECT neighbor, item, n_both FROM h),
        |sc AS (SELECT p.item, p.neighbor, ci.c AS n_item,
        |    cn.c AS n_neighbor, p.n_both,
        |    round(p.n_both::DOUBLE /
        |      sqrt(ci.c::DOUBLE * cn.c::DOUBLE), 6) AS cosine,
        |    round(p.n_both::DOUBLE * nb / (ci.c * cn.c), 6) AS lift
        |  FROM p JOIN ic ci ON p.item = ci.i
        |    JOIN ic cn ON p.neighbor = cn.i CROSS JOIN n),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY cosine DESC, neighbor) AS rank
        |  FROM sc)
        |SELECT item, neighbor, n_item, n_neighbor, n_both, cosine, lift,
        |  rank
        |FROM rk WHERE rank <= 5 ORDER BY item, rank""".stripMargin,

    // the q298 Levinson chain + an in-sample one-step residual CTE
    // (dev_t minus the rounded-phi prediction, the recursion's exact
    // left-assoc shape), grouped quantile_cont bands, sqrt(h) widening
    "q319_ar_forecast_interval" ->
      """WITH d AS (
        |  SELECT event_type::VARCHAR AS key, ts::DATE AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (SELECT key, day, n,
        |    count(*) OVER (PARTITION BY key) AS cnt,
        |    (sum(CAST(n AS DECIMAL(38,12))) OVER (PARTITION BY key))
        |      ::DOUBLE / (count(*) OVER (PARTITION BY key))::DOUBLE
        |      AS mean
        |  FROM d),
        |b2 AS (SELECT *, (n::DOUBLE - mean) AS dev FROM b),
        |b3 AS (SELECT *,
        |    sum(CAST(dev * dev AS DECIMAL(38,12)))
        |      OVER (PARTITION BY key) AS den
        |  FROM b2),
        |i AS (SELECT *, row_number()
        |        OVER (PARTITION BY key ORDER BY day) AS idx FROM b3),
        |ks AS (SELECT unnest(range(1, 4)) AS lag),
        |lt AS (
        |  SELECT a.key, a.den, ks.lag, a.dev * p.dev AS term
        |  FROM i a JOIN ks ON TRUE
        |    JOIN i p ON p.key = a.key AND p.idx = a.idx - ks.lag),
        |rk AS (
        |  SELECT key, lag, max(den) AS den,
        |    sum(CAST(term AS DECIMAL(38,12))) AS num
        |  FROM lt GROUP BY key, lag),
        |rr AS (SELECT key, lag,
        |    CASE WHEN den::DOUBLE > 0.0::DOUBLE
        |      THEN round(num::DOUBLE / den::DOUBLE, 6) END AS r
        |  FROM rk),
        |pv AS (SELECT key,
        |    max(CASE WHEN lag = 1 THEN r END) AS a1,
        |    max(CASE WHEN lag = 2 THEN r END) AS a2,
        |    max(CASE WHEN lag = 3 THEN r END) AS a3
        |  FROM rr GROUP BY key),
        |pvf AS (SELECT * FROM pv WHERE a1 IS NOT NULL
        |          AND a2 IS NOT NULL AND a3 IS NOT NULL),
        |l1 AS (SELECT key, a1, a2, a3, a1 AS k1,
        |    (1.0::DOUBLE - (a1 * a1)) AS e1 FROM pvf),
        |l2 AS (SELECT *, CASE WHEN e1 <> 0.0::DOUBLE
        |    THEN (a2 - (k1 * a1)) / e1 END AS k2 FROM l1),
        |l2b AS (SELECT *, (k1 - (k2 * k1)) AS p21, k2 AS p22,
        |    (e1 * (1.0::DOUBLE - (k2 * k2))) AS e2
        |  FROM l2 WHERE k2 IS NOT NULL),
        |l3 AS (SELECT *, CASE WHEN e2 <> 0.0::DOUBLE
        |    THEN (a3 - ((p21 * a2) + (p22 * a1))) / e2 END AS k3
        |  FROM l2b),
        |fin AS (SELECT key,
        |    round((p21 - (k3 * p22)), 6) AS p31,
        |    round((p22 - (k3 * p21)), 6) AS p32,
        |    round(k3, 6) AS p33
        |  FROM l3 WHERE k3 IS NOT NULL),
        |rs0 AS (SELECT i.key,
        |    (i.dev - (((0.0::DOUBLE + (f.p31 * a1.dev)) +
        |      (f.p32 * a2.dev)) + (f.p33 * a3.dev))) AS r
        |  FROM i JOIN fin f ON f.key = i.key
        |    JOIN i a1 ON a1.key = i.key AND a1.idx = i.idx - 1
        |    JOIN i a2 ON a2.key = i.key AND a2.idx = i.idx - 2
        |    JOIN i a3 ON a3.key = i.key AND a3.idx = i.idx - 3),
        |qb AS (SELECT key, quantile_cont(r, [0.025, 0.975]) AS q
        |  FROM rs0 GROUP BY key),
        |mu AS (SELECT key,
        |    sum(CAST(n AS DECIMAL(38,12)))::DOUBLE /
        |      count(*)::DOUBLE AS mean
        |  FROM d GROUP BY key),
        |lp AS (SELECT key, day, n, row_number()
        |    OVER (PARTITION BY key ORDER BY day DESC) AS rn FROM d),
        |dv AS (SELECT l.key,
        |    max(CASE WHEN rn = 1 THEN n::DOUBLE - mean END) AS d0,
        |    max(CASE WHEN rn = 2 THEN n::DOUBLE - mean END) AS d1,
        |    max(CASE WHEN rn = 3 THEN n::DOUBLE - mean END) AS d2
        |  FROM lp l JOIN mu ON mu.key = l.key WHERE rn <= 3
        |  GROUP BY l.key),
        |fc AS (SELECT f.key, mu.mean, dv.d0, dv.d1, dv.d2,
        |    f.p31, f.p32, f.p33,
        |    (((0.0::DOUBLE + (f.p31 * dv.d0)) + (f.p32 * dv.d1)) +
        |      (f.p33 * dv.d2)) AS f1
        |  FROM fin f JOIN dv ON dv.key = f.key
        |  JOIN mu ON mu.key = f.key),
        |fc2 AS (SELECT *,
        |    (((0.0::DOUBLE + (p31 * f1)) + (p32 * d0)) +
        |      (p33 * d1)) AS f2 FROM fc),
        |fc3 AS (SELECT *,
        |    (((0.0::DOUBLE + (p31 * f2)) + (p32 * f1)) +
        |      (p33 * d0)) AS f3 FROM fc2)
        |SELECT key, h, forecast, lo, hi FROM (
        |  SELECT f.key, 1 AS h, round(mean + f1, 6) AS forecast,
        |    round(mean + f1 + q[1] * sqrt(1.0::DOUBLE), 6) AS lo,
        |    round(mean + f1 + q[2] * sqrt(1.0::DOUBLE), 6) AS hi
        |  FROM fc3 f JOIN qb ON qb.key = f.key
        |  UNION ALL
        |  SELECT f.key, 2, round(mean + f2, 6),
        |    round(mean + f2 + q[1] * sqrt(2.0::DOUBLE), 6),
        |    round(mean + f2 + q[2] * sqrt(2.0::DOUBLE), 6)
        |  FROM fc3 f JOIN qb ON qb.key = f.key
        |  UNION ALL
        |  SELECT f.key, 3, round(mean + f3, 6),
        |    round(mean + f3 + q[1] * sqrt(3.0::DOUBLE), 6),
        |    round(mean + f3 + q[2] * sqrt(3.0::DOUBLE), 6)
        |  FROM fc3 f JOIN qb ON qb.key = f.key)
        |ORDER BY key, h""".stripMargin,

    // the q232 recursive fold + a one-step residual CTE off each hw
    // state row (x_{t+1} against the pre-update l+b+s1), grouped
    // quantile_cont bands on the raw errors
    "q321_hw_interval" -> (hwOracleCte(7, 28, 0.4, 0.1, 0.2) +
      s""",
         |res AS (SELECT hw.key, (x.x - (hw.l + hw.b + hw.s1)) AS r
         |  FROM hw JOIN xs x ON x.key = hw.key AND x.idx = hw.t + 1),
         |qb AS (SELECT key, quantile_cont(r, [0.025, 0.975]) AS q
         |  FROM res GROUP BY key)
         |SELECT f.key, 21 AS n_eval,
         |  round(f.l + f.b + f.s1, 6) AS forecast,
         |  round(f.l + f.b + f.s1 + q[1], 6) AS lo,
         |  round(f.l + f.b + f.s1 + q[2], 6) AS hi
         |FROM (SELECT key, l, b, s1 FROM hw WHERE t = 27) f
         |  JOIN qb ON qb.key = f.key
         |ORDER BY f.key""".stripMargin),

    // the q180 tokenize/bigram device -> top-300 vocab -> symmetric
    // counts (directed + transpose) -> positive-PMI cells in the
    // operator's exact double order -> decimal-quantized row-cosine
    // dot products for the top-3 probes -> per-probe rank on the 6-dp
    // cosine; the Spark side must recover this exact set through its
    // 64-dim embedding pool for the hash to match
    "q318_ppmi_neighbors" ->
      """WITH b AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |uc AS (SELECT w, count(*)::BIGINT AS cw
        |  FROM (SELECT unnest(tk) AS w FROM b) GROUP BY w),
        |voc AS MATERIALIZED (SELECT w, cw,
        |    row_number() OVER (ORDER BY cw DESC, w) AS rk
        |  FROM uc QUALIFY rk <= 300),
        |g AS (SELECT unnest(CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
        |    ELSE [array_to_string(tk[i:i+1], ' ')
        |      FOR i IN range(1, len(tk))] END) AS bg
        |  FROM b),
        |dp0 AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[-1] AS w2 FROM g),
        |dc AS (SELECT w1, w2, count(*)::BIGINT AS n FROM dp0
        |  WHERE w1 IN (SELECT w FROM voc) AND w2 IN (SELECT w FROM voc)
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (SELECT a, b, sum(n)::BIGINT AS n FROM (
        |    SELECT w1 AS a, w2 AS b, n FROM dc
        |    UNION ALL SELECT w2 AS a, w1 AS b, n FROM dc)
        |  GROUP BY a, b),
        |mg AS (SELECT a, sum(n)::BIGINT AS c FROM sym GROUP BY a),
        |tt AS (SELECT sum(n)::BIGINT AS t FROM sym),
        |pp AS MATERIALIZED (
        |  SELECT s.a, s.b,
        |    ln(s.n::DOUBLE * t / (ca.c::DOUBLE * cb.c::DOUBLE)) AS p
        |  FROM sym s JOIN mg ca ON s.a = ca.a JOIN mg cb ON s.b = cb.a
        |    CROSS JOIN tt
        |  WHERE ln(s.n::DOUBLE * t / (ca.c::DOUBLE * cb.c::DOUBLE))
        |    > 0.0::DOUBLE),
        |nr AS (SELECT a, sum(CAST(p * p AS DECIMAL(38,12))) AS s2
        |  FROM pp GROUP BY a),
        |pr AS (SELECT w FROM voc WHERE rk <= 3),
        |cs AS (SELECT pa.a AS probe, pb.a AS cand,
        |    sum(CAST(pa.p * pb.p AS DECIMAL(38,12)))::DOUBLE AS num
        |  FROM pp pa JOIN pp pb ON pa.b = pb.b AND pa.a <> pb.a
        |  WHERE pa.a IN (SELECT w FROM pr)
        |  GROUP BY 1, 2),
        |cosv AS (SELECT probe, cand,
        |    num / (sqrt(na.s2::DOUBLE) * sqrt(nb.s2::DOUBLE)) AS c
        |  FROM cs JOIN nr na ON cs.probe = na.a
        |    JOIN nr nb ON cs.cand = nb.a),
        |rk2 AS (SELECT probe, cand, round(c, 6) AS ppmi_cos,
        |    row_number() OVER (PARTITION BY probe
        |      ORDER BY round(c, 6) DESC, cand) AS rank
        |  FROM cosv)
        |SELECT probe, rank, cand AS neighbor, ppmi_cos,
        |  TRUE AS emb_recall_ok
        |FROM rk2 WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    // the q295 Newton unroll with the stratum key threaded through:
    // per-step grain grouped by (stratum, time), suffix risk windows
    // PARTITION BY stratum, one pooled gradient/Hessian fold over all
    // strata's grain rows — same bet-chain elimination, plus n_strata
    "q317_cox_strata" -> {
      val steps = (1 to 6).map { i =>
        s"""w$i AS (SELECT st, t, e, x0,
           |    exp(0.0::DOUBLE + (b.c0 * x0)) AS wg
           |  FROM pu2, bet${i - 1} b),
           |gr$i AS (SELECT st, t, sum(e)::BIGINT AS d,
           |    sum(CAST(CASE WHEN e = 1 THEN x0 ELSE 0.0::DOUBLE END
           |      AS DECIMAL(38,12))) AS sx0,
           |    sum(CAST(wg AS DECIMAL(38,12))) AS rw,
           |    sum(CAST(wg * x0 AS DECIMAL(38,12))) AS rwx0,
           |    sum(CAST(wg * x0 * x0 AS DECIMAL(38,12))) AS rwxx
           |  FROM w$i GROUP BY st, t),
           |sf$i AS (SELECT *,
           |    (sum(rw) OVER sfx)::DOUBLE AS S0,
           |    (sum(rwx0) OVER sfx)::DOUBLE AS S1,
           |    (sum(rwxx) OVER sfx)::DOUBLE AS S2
           |  FROM gr$i WINDOW sfx AS (PARTITION BY st ORDER BY t
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
           |mo$i AS (SELECT
           |    sum(CAST(sx0::DOUBLE - d::DOUBLE * (S1 / S0)
           |      AS DECIMAL(38,12)))::DOUBLE AS g0,
           |    sum(CAST(d::DOUBLE * (S2 / S0 - (S1 / S0) * (S1 / S0))
           |      AS DECIMAL(38,12)))::DOUBLE AS h00
           |  FROM sf$i WHERE d > 0),
           |bet$i AS MATERIALIZED (SELECT
           |    (b.c0 + (m.g0 / m.h00)) AS c0,
           |    (1.0::DOUBLE / m.h00) AS inv0
           |  FROM bet${i - 1} b, mo$i m)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id AS u,
         |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
         |a AS (SELECT u, min(ms) AS anchor FROM ev
         |      WHERE et = 'signup' GROUP BY u),
         |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
         |       WHERE ev.et = 'purchase' AND ev.ms >= a.anchor
         |       GROUP BY ev.u),
         |mx AS (SELECT max(ms) AS fin FROM ev),
         |pu AS (SELECT
         |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
         |      THEN 'A' ELSE 'B' END AS g,
         |    CASE WHEN substring(md5(a.u::VARCHAR), 2, 1) < '8'
         |      THEN 's0' ELSE 's1' END AS st,
         |    floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT
         |      AS t,
         |    CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e
         |  FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
         |pu2 AS MATERIALIZED (SELECT st, t, e,
         |    CASE WHEN g = 'B' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
         |      AS x0 FROM pu),
         |nn AS (SELECT count(*)::BIGINT AS n, sum(e)::BIGINT AS d,
         |       count(DISTINCT st)::BIGINT AS ns FROM pu2),
         |bet0 AS (SELECT 0.0::DOUBLE AS c0, 0.0::DOUBLE AS inv0),
         |$steps
         |SELECT 0 AS term_idx, 'treated' AS term, nn.n AS n,
         |  nn.d AS n_events, nn.ns AS n_strata, round(b.c0, 6) AS coef,
         |  round(exp(b.c0), 6) AS hazard_ratio,
         |  round(sqrt(b.inv0), 6) AS se,
         |  CASE WHEN round(sqrt(b.inv0), 6) > 0.0::DOUBLE
         |    THEN round(b.c0 / sqrt(b.inv0), 6) END AS z
         |FROM bet6 b, nn""".stripMargin
    },

    // the q222 grain/rank replay widened to 5 conditional count
    // columns; per-group half-integer rank sums, decimal tie cubes,
    // the H/C/eta algebra in the operator's exact double order, and
    // the even-df chi-square tail e^(-h/2)·(1 + h/2) unrolled for df=4
    "q316_kruskal_wallis" -> {
      val labels = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val cs = labels.zipWithIndex.map { case (l, i) =>
        s"count(CASE WHEN g = '$l' THEN 1 END) AS c$i" }
        .mkString(",\n    ")
      val tSum = (0 until 5).map(i => s"c$i").mkString(" + ")
      val nSums = (0 until 5).map(i =>
        s"sum(c$i)::BIGINT AS n$i").mkString(",\n    ")
      val rSums = (0 until 5).map(i =>
        s"sum(c$i * (cum + ($tSum + 1) / 2.0::DOUBLE)) AS r$i")
        .mkString(",\n    ")
      val sumr2 = (0 until 5).map(i => s"r$i * r$i / n$i")
        .mkString(" + ")
      val rows = labels.zipWithIndex.map { case (l, i) =>
        s"SELECT '$l' AS grp, n$i AS n, r$i AS rs FROM alg2" }
        .mkString("\nUNION ALL ")
      s"""WITH v AS (
         |  SELECT o_orderpriority AS g, o_totalprice::DOUBLE AS x
         |  FROM orders
         |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         |grain AS (
         |  SELECT x,
         |    $cs
         |  FROM v GROUP BY x),
         |rk AS (
         |  SELECT *, coalesce(sum($tSum) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM grain),
         |agg AS (
         |  SELECT
         |    $nSums,
         |    $rSums,
         |    sum(($tSum)::DECIMAL(38,0) * ($tSum)::DECIMAL(38,0) *
         |      ($tSum)::DECIMAL(38,0) - ($tSum)::DECIMAL(38,0))::DOUBLE
         |      AS ties
         |  FROM rk),
         |alg AS (
         |  SELECT *, (n0 + n1 + n2 + n3 + n4)::BIGINT AS n,
         |    (0.0::DOUBLE + $sumr2) AS sumr2
         |  FROM agg),
         |alg2 AS (
         |  SELECT *,
         |    (12.0::DOUBLE / (n::DOUBLE * (n::DOUBLE + 1.0::DOUBLE)) *
         |      sumr2 - 3.0::DOUBLE * (n::DOUBLE + 1.0::DOUBLE)) /
         |    (1.0::DOUBLE - ties /
         |      (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)) AS h
         |  FROM alg),
         |pg AS (SELECT grp, n, rs FROM ($rows))
         |SELECT pg.grp AS "group", pg.n, round(pg.rs, 6) AS rank_sum,
         |  round(pg.rs / pg.n, 6) AS mean_rank, round(a.h, 6) AS h,
         |  4 AS dof,
         |  round(least(1.0::DOUBLE, exp(-(a.h / 2.0::DOUBLE)) *
         |    (1.0::DOUBLE + a.h / 2.0::DOUBLE)), 6) AS p_value,
         |  round((a.h - 5.0::DOUBLE + 1.0::DOUBLE) /
         |    (a.n - 5)::DOUBLE, 6) AS eta_sq
         |FROM pg, alg2 a ORDER BY "group"""".stripMargin
    },

    // the q315 chain reused as the neighbor frame, scored against the
    // distinct customer-part history: decimal-quantized cosine sum per
    // (customer, candidate), already-bought anti-join, top-3 rank on
    // the 6-dp score
    "q320_recommend_items" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= 1000),
        |kept AS (SELECT bi.b, bi.i FROM bi SEMI JOIN ok ON bi.b = ok.b),
        |n AS (SELECT count(DISTINCT b) AS nb FROM kept),
        |ic AS (SELECT i, count(*) AS c FROM kept GROUP BY i),
        |h AS (SELECT a.i AS item, b.i AS neighbor, count(*) AS n_both
        |      FROM kept a JOIN kept b ON a.b = b.b AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |p AS (SELECT item, neighbor, n_both FROM h
        |      UNION ALL SELECT neighbor, item, n_both FROM h),
        |sc AS (SELECT p.item, p.neighbor,
        |    round(p.n_both::DOUBLE /
        |      sqrt(ci.c::DOUBLE * cn.c::DOUBLE), 6) AS cosine
        |  FROM p JOIN ic ci ON p.item = ci.i
        |    JOIN ic cn ON p.neighbor = cn.i),
        |topk AS MATERIALIZED (SELECT item, neighbor, cosine,
        |    row_number() OVER (PARTITION BY item
        |      ORDER BY cosine DESC, neighbor) AS rnk
        |  FROM sc QUALIFY rnk <= 5),
        |hist AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |agg AS (SELECT h2.u, e.neighbor AS it,
        |    sum(CAST(e.cosine AS DECIMAL(38,12))) AS s
        |  FROM hist h2 JOIN topk e ON h2.it = e.item
        |  GROUP BY 1, 2),
        |fil AS (SELECT agg.u, agg.it, agg.s FROM agg
        |  ANTI JOIN hist ON agg.u = hist.u AND agg.it = hist.it),
        |rk2 AS (SELECT u, it, round(s::DOUBLE, 6) AS score,
        |    row_number() OVER (PARTITION BY u
        |      ORDER BY round(s::DOUBLE, 6) DESC, it) AS rank
        |  FROM fil)
        |SELECT u AS "user", it AS item, score, rank
        |FROM rk2 WHERE rank <= 3 ORDER BY "user", rank""".stripMargin,

    // the heapsLaw tokenize device -> (doc, term) counts -> top-300
    // vocab -> the integer-mod perturbed-uniform init -> 3 unrolled
    // EM rounds (responsibilities in the operator's exact left-assoc
    // double shapes, M-step sums decimal-quantized) -> per-topic
    // top-8 rank
    "q308_latent_topics" -> {
      val lng = (0 until 4).map(z =>
        s"SELECT $z AS topic, w AS term, pw$z AS p FROM pw3")
        .mkString("\nUNION ALL ")
      s"""WITH $plsaOracleBase,
         |lng AS ($lng),
         |rk AS (SELECT topic, term, p,
         |    row_number() OVER (PARTITION BY topic
         |      ORDER BY p DESC, term) AS rnk
         |  FROM lng)
         |SELECT topic, rnk::INT AS rank, term, round(p, 6) AS weight
         |FROM rk WHERE rnk <= 8 ORDER BY topic, rank""".stripMargin
    },

    // the q308 EM chain read at DOCUMENT grain: P(topic|doc) rows +
    // the argmax routing flag (raw-double rank, ties to lower topic)
    "q312_topic_mixture" -> {
      val lng = (0 until 4).map(z =>
        s"SELECT d, $z AS topic, pd$z AS p FROM pd3")
        .mkString("\nUNION ALL ")
      s"""WITH $plsaOracleBase,
         |lng AS ($lng),
         |rk AS (SELECT d, topic, p,
         |    row_number() OVER (PARTITION BY d
         |      ORDER BY p DESC, topic) AS rnk
         |  FROM lng)
         |SELECT d AS doc_id, topic, round(p, 6) AS weight,
         |  rnk = 1 AS is_dominant
         |FROM rk ORDER BY doc_id, topic""".stripMargin
    },

    // the q295 Newton unroll verbatim, then a 7th grain pass at bet6,
    // Schoenfeld residuals sx - d*S1/S0 per event time, the rank
    // window, one decimal 6-moment fold, trend algebra in the
    // operator's exact double shapes
    "q310_cox_zph" -> {
      val steps = (1 to 6).map { i =>
        s"""w$i AS (SELECT t, e, x0,
           |    exp(0.0::DOUBLE + (b.c0 * x0)) AS wg
           |  FROM pu2, bet${i - 1} b),
           |gr$i AS (SELECT t, sum(e)::BIGINT AS d,
           |    sum(CAST(CASE WHEN e = 1 THEN x0 ELSE 0.0::DOUBLE END
           |      AS DECIMAL(38,12))) AS sx0,
           |    sum(CAST(wg AS DECIMAL(38,12))) AS rw,
           |    sum(CAST(wg * x0 AS DECIMAL(38,12))) AS rwx0,
           |    sum(CAST(wg * x0 * x0 AS DECIMAL(38,12))) AS rwxx
           |  FROM w$i GROUP BY t),
           |sf$i AS (SELECT *,
           |    (sum(rw) OVER sfx)::DOUBLE AS S0,
           |    (sum(rwx0) OVER sfx)::DOUBLE AS S1,
           |    (sum(rwxx) OVER sfx)::DOUBLE AS S2
           |  FROM gr$i WINDOW sfx AS (ORDER BY t
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
           |mo$i AS (SELECT
           |    sum(CAST(sx0::DOUBLE - d::DOUBLE * (S1 / S0)
           |      AS DECIMAL(38,12)))::DOUBLE AS g0,
           |    sum(CAST(d::DOUBLE * (S2 / S0 - (S1 / S0) * (S1 / S0))
           |      AS DECIMAL(38,12)))::DOUBLE AS h00
           |  FROM sf$i WHERE d > 0),
           |bet$i AS MATERIALIZED (SELECT
           |    (b.c0 + (m.g0 / m.h00)) AS c0,
           |    (1.0::DOUBLE / m.h00) AS inv0
           |  FROM bet${i - 1} b, mo$i m)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id AS u,
         |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
         |a AS (SELECT u, min(ms) AS anchor FROM ev
         |      WHERE et = 'signup' GROUP BY u),
         |tg AS (SELECT ev.u, min(ms) AS evt FROM ev JOIN a ON ev.u = a.u
         |       WHERE ev.et = 'purchase' AND ev.ms >= a.anchor
         |       GROUP BY ev.u),
         |mx AS (SELECT max(ms) AS fin FROM ev),
         |pu AS (SELECT
         |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
         |      THEN 'A' ELSE 'B' END AS g,
         |    floor((coalesce(evt, fin) - anchor) / 3600000.0)::BIGINT
         |      AS t,
         |    CASE WHEN evt IS NULL THEN 0 ELSE 1 END AS e
         |  FROM a LEFT JOIN tg ON a.u = tg.u CROSS JOIN mx),
         |pu2 AS MATERIALIZED (SELECT t, e,
         |    CASE WHEN g = 'B' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
         |      AS x0 FROM pu),
         |bet0 AS (SELECT 0.0::DOUBLE AS c0, 0.0::DOUBLE AS inv0),
         |$steps,
         |w7 AS (SELECT t, e, x0,
         |    exp(0.0::DOUBLE + (b.c0 * x0)) AS wg
         |  FROM pu2, bet6 b),
         |gr7 AS (SELECT t, sum(e)::BIGINT AS d,
         |    sum(CAST(CASE WHEN e = 1 THEN x0 ELSE 0.0::DOUBLE END
         |      AS DECIMAL(38,12))) AS sx0,
         |    sum(CAST(wg AS DECIMAL(38,12))) AS rw,
         |    sum(CAST(wg * x0 AS DECIMAL(38,12))) AS rwx0
         |  FROM w7 GROUP BY t),
         |sf7 AS (SELECT *,
         |    (sum(rw) OVER sfx)::DOUBLE AS S0,
         |    (sum(rwx0) OVER sfx)::DOUBLE AS S1
         |  FROM gr7 WINDOW sfx AS (ORDER BY t
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |res AS (SELECT t,
         |    (row_number() OVER (ORDER BY t))::DOUBLE AS g,
         |    sx0::DOUBLE - d::DOUBLE * (S1 / S0) AS r
         |  FROM sf7 WHERE d > 0),
         |mom AS (SELECT count(*)::BIGINT AS m,
         |    (sum(CAST(g AS DECIMAL(38,12))))::DOUBLE AS sg,
         |    (sum(CAST(g * g AS DECIMAL(38,12))))::DOUBLE AS sg2,
         |    (sum(CAST(r AS DECIMAL(38,12))))::DOUBLE AS sr,
         |    (sum(CAST(r * r AS DECIMAL(38,12))))::DOUBLE AS sr2,
         |    (sum(CAST(g * r AS DECIMAL(38,12))))::DOUBLE AS sgr
         |  FROM res),
         |alg AS (SELECT m,
         |    (m::DOUBLE * sgr - sg * sr) AS num,
         |    (m::DOUBLE * sg2 - sg * sg) AS vg,
         |    (m::DOUBLE * sr2 - sr * sr) AS vr
         |  FROM mom),
         |alg2 AS (SELECT m, vg, vr, num / vg AS slope,
         |    num / (sqrt(vg) * sqrt(vr)) AS corr
         |  FROM alg)
         |SELECT 0 AS term_idx, 'treated' AS term, m AS n_times,
         |  round(b.c0, 6) AS coef,
         |  CASE WHEN vg > 0.0::DOUBLE THEN round(slope, 6) END AS slope,
         |  CASE WHEN vg > 0.0::DOUBLE AND vr > 0.0::DOUBLE
         |    THEN round(corr, 6) END AS corr,
         |  CASE WHEN vg > 0.0::DOUBLE AND vr > 0.0::DOUBLE AND m > 2
         |    AND corr * corr < 1.0::DOUBLE
         |    THEN round(corr * sqrt(m::DOUBLE - 2.0::DOUBLE) /
         |      sqrt(1.0::DOUBLE - corr * corr), 6) END AS z
         |FROM alg2, bet6 b""".stripMargin
    }
  )

  /** Shared q309/q314 Aalen-Johansen oracle base: the q306 subject
    * device with a purchase-vs-error race (ties to purchase), the
    * all-cause KM windows for S(t−) and S(t), the (g, t, cause) grain
    * join, and the decimal-quantized running incidence — ends at the
    * `cv` curve (g, t, cause, nr, dc, survival, cif) MATERIALIZED. */
  private val ajOracleBase: String =
    """ev AS (SELECT user_id AS u,
      |    (epoch_ms(ts)::BIGINT) AS ms, event_type AS et FROM events),
      |a AS (SELECT u, min(ms) AS anchor FROM ev
      |      WHERE et = 'signup' GROUP BY u),
      |fc AS (SELECT ev.u,
      |    min(CASE WHEN et = 'purchase' THEN ms END) AS mp,
      |    min(CASE WHEN et = 'error' THEN ms END) AS me
      |  FROM ev JOIN a ON ev.u = a.u
      |  WHERE ev.ms >= a.anchor AND ev.et IN ('purchase', 'error')
      |  GROUP BY ev.u),
      |mx AS (SELECT max(ms) AS fin FROM ev),
      |pu AS MATERIALIZED (SELECT
      |    CASE WHEN substring(md5(a.u::VARCHAR), 1, 1) < '8'
      |      THEN 'A' ELSE 'B' END AS g,
      |    floor((coalesce(
      |      CASE WHEN mp IS NOT NULL AND (me IS NULL OR mp <= me)
      |        THEN mp WHEN me IS NOT NULL THEN me END, fin)
      |      - anchor) / 3600000.0)::BIGINT AS t,
      |    CASE WHEN mp IS NOT NULL AND (me IS NULL OR mp <= me)
      |      THEN 'purchase'
      |      WHEN me IS NOT NULL THEN 'error' END AS cause
      |  FROM a LEFT JOIN fc ON a.u = fc.u CROSS JOIN mx),
      |km AS (SELECT g, t, count(cause)::BIGINT AS d,
      |    sum(CASE WHEN cause IS NULL THEN 1 ELSE 0 END)::BIGINT
      |      AS cns
      |  FROM pu GROUP BY g, t),
      |w AS (SELECT g, t, d, cns,
      |    (sum(d + cns) OVER (PARTITION BY g)
      |     - coalesce(sum(d + cns) OVER (PARTITION BY g ORDER BY t
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |       0))::BIGINT AS nr
      |  FROM km),
      |s AS (SELECT *,
      |    CASE WHEN d < nr THEN
      |      CAST(ln(1 - d::DOUBLE / nr) AS DECIMAL(38,12)) END AS lnq
      |  FROM w),
      |s2 AS MATERIALIZED (SELECT g, t, nr,
      |    CASE WHEN d = nr THEN 0.0::DOUBLE
      |      ELSE round(exp((sum(lnq) OVER wc)::DOUBLE), 6)
      |    END AS survival,
      |    coalesce(exp((sum(lnq) OVER wp)::DOUBLE), 1.0::DOUBLE)
      |      AS sprev
      |  FROM s
      |  WINDOW wc AS (PARTITION BY g ORDER BY t ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wp AS (PARTITION BY g ORDER BY t ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND 1 PRECEDING)),
      |pc AS (SELECT g, t, cause, count(*)::BIGINT AS dc FROM pu
      |  WHERE cause IS NOT NULL GROUP BY g, t, cause),
      |j AS (SELECT pc.g, pc.t, pc.cause, s2.nr, pc.dc, s2.survival,
      |    CAST(s2.sprev * (pc.dc::DOUBLE / s2.nr::DOUBLE)
      |      AS DECIMAL(38,12)) AS term
      |  FROM pc JOIN s2 ON pc.g = s2.g AND pc.t = s2.t),
      |cv AS MATERIALIZED (SELECT g, t, cause, nr, dc, survival,
      |    round((sum(term) OVER (PARTITION BY g, cause ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |      ::DOUBLE, 6) AS cif
      |  FROM j)""".stripMargin

  /** Shared q308/q312 PLSA oracle base: the heapsLaw tokenize device
    * → (doc, term) counts → top-300 vocab → the integer-mod
    * perturbed-uniform init → 3 unrolled EM rounds (responsibilities
    * in the operator's exact left-assoc double shapes, M-step sums
    * decimal-quantized). Ends with pw3 (topic-term) and pd3
    * (doc-topic) materialized; the two queries differ only in which
    * factor they read out. */
  private val plsaOracleBase: String = {
    val k = 4
    val iters = 3
    val zs = 0 until k
    val praw = zs.map(z =>
      s"1.0::DOUBLE + ((r * 131 + ${z * 197}) % 1009)::DOUBLE / " +
        s"1009.0::DOUBLE AS raw$z").mkString(",\n    ")
    val ptot = zs.map(z =>
      s"sum(CAST(raw$z AS DECIMAL(38,12))) AS t$z").mkString(", ")
    val pw0 = zs.map(z => s"raw$z / t$z::DOUBLE AS pw$z")
      .mkString(", ")
    val pd0 = zs.map(z => s"1.0::DOUBLE / $k.0::DOUBLE AS pd$z")
      .mkString(", ")
    val denom = zs.map(z => s"pw.pw$z * pd.pd$z").mkString(" + ")
    val steps = (1 to iters).map { i =>
      val resp = zs.map(z =>
        s"c.n * (pw.pw$z * pd.pd$z) / ($denom) AS c$z")
        .mkString(",\n    ")
      val sums = zs.map(z =>
        s"sum(CAST(c$z AS DECIMAL(38,12))) AS s$z").mkString(", ")
      val pdTot = zs.map(z => s"s$z::DOUBLE").mkString(" + ")
      val pdN = zs.map(z => s"s$z::DOUBLE / ($pdTot) AS pd$z")
        .mkString(", ")
      val pwT = zs.map(z => s"sum(s$z) AS t$z").mkString(", ")
      val pwN = zs.map(z => s"s$z::DOUBLE / t$z::DOUBLE AS pw$z")
        .mkString(", ")
      s"""r$i AS MATERIALIZED (SELECT c.d, c.w,
         |    $resp
         |  FROM cnt c JOIN pw${i - 1} pw ON pw.w = c.w
         |  JOIN pd${i - 1} pd ON pd.d = c.d),
         |pdr$i AS (SELECT d, $sums FROM r$i GROUP BY d),
         |pd$i AS MATERIALIZED (SELECT d, $pdN FROM pdr$i),
         |pwr$i AS MATERIALIZED (SELECT w, $sums FROM r$i GROUP BY w),
         |pwt$i AS (SELECT $pwT FROM pwr$i),
         |pw$i AS MATERIALIZED (SELECT w, $pwN FROM pwr$i, pwt$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""b AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x <> '') AS tk
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |tok AS (SELECT doc_id AS d, unnest(tk) AS w FROM b),
       |cdw AS MATERIALIZED (SELECT d, w, count(*)::BIGINT AS n
       |  FROM tok GROUP BY d, w),
       |voc AS MATERIALIZED (SELECT w,
       |    (row_number() OVER (ORDER BY tot DESC, w) - 1)::INT AS r
       |  FROM (SELECT w, sum(n)::BIGINT AS tot FROM cdw GROUP BY w
       |        ORDER BY tot DESC, w LIMIT 300)),
       |cnt AS MATERIALIZED (SELECT c.d, c.w, c.n::DOUBLE AS n
       |  FROM cdw c JOIN voc v ON v.w = c.w),
       |praw AS (SELECT w,
       |    $praw
       |  FROM voc),
       |ptot AS (SELECT $ptot FROM praw),
       |pw0 AS MATERIALIZED (SELECT w, $pw0 FROM praw, ptot),
       |pd0 AS MATERIALIZED (SELECT d, $pd0
       |  FROM (SELECT DISTINCT d FROM cnt)),
       |$steps""".stripMargin
  }

  /** Shared q266/q267 oracle prefix: points → dimension grain →
    * per-label decimal centroids → per-(point, candidate-label)
    * decimal distance sums → own/nearest-other distances. */
  private val clusterCtePrefix =
    """WITH pts AS MATERIALIZED (
      |  SELECT vec_id, label::VARCHAR AS l, embedding::DOUBLE[] AS v
      |  FROM embeddings
      |  WHERE label IS NOT NULL AND embedding IS NOT NULL
      |    AND len(embedding) > 0),
      |cnt AS (SELECT l, count(*)::BIGINT AS n FROM pts GROUP BY l),
      |ex AS MATERIALIZED (
      |  SELECT vec_id, l, unnest(range(1, len(v) + 1))::INT AS p,
      |    unnest(v) AS x
      |  FROM pts),
      |cent AS MATERIALIZED (
      |  SELECT e.l, e.p,
      |    sum(CAST(e.x AS DECIMAL(38,12)))::DOUBLE / c.n::DOUBLE AS cx
      |  FROM ex e JOIN cnt c ON c.l = e.l
      |  GROUP BY e.l, e.p, c.n),
      |cv AS MATERIALIZED (
      |  SELECT l, list(cx ORDER BY p) AS cvec FROM cent GROUP BY l),
      |d AS MATERIALIZED (
      |  SELECT p.vec_id, p.l AS own, c.l AS cand,
      |    sqrt(list_reduce(
      |      [(p.v[i] - c.cvec[i]) * (p.v[i] - c.cvec[i])
      |        FOR i IN range(1, len(p.v) + 1)],
      |      (a, b) -> a + b)) AS dist
      |  FROM pts p, cv c),
      |ab AS (
      |  SELECT vec_id, own,
      |    max(CASE WHEN cand = own THEN dist END) AS a,
      |    min(CASE WHEN cand <> own THEN dist END) AS b
      |  FROM d GROUP BY vec_id, own)""".stripMargin

  /** [[errTreatPerRowSql]] with the user id carried through (q258's
    * deterministic propensity-tie break). */
  private val errTreatPerRowIdSql =
    """SELECT user_id AS id,
      |  CASE WHEN count(CASE WHEN event_type = 'error' THEN 1 END) >= 14
      |    THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS t,
      |  (sum(CAST(CASE WHEN event_type = 'purchase' THEN value
      |       ELSE 0.0::DOUBLE END AS DECIMAL(38,12))))::DOUBLE AS y,
      |  (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
      |    AS engagement,
      |  (count(DISTINCT CAST(ts AS DATE)))::DOUBLE AS active_days
      |FROM events GROUP BY user_id""".stripMargin

  /** q244/q245's shared per-user subquery (see [[errTreatUsers]]). */
  private val errTreatPerRowSql =
    """SELECT
      |  CASE WHEN count(CASE WHEN event_type = 'error' THEN 1 END) >= 14
      |    THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS t,
      |  (sum(CAST(CASE WHEN event_type = 'purchase' THEN value
      |       ELSE 0.0::DOUBLE END AS DECIMAL(38,12))))::DOUBLE AS y,
      |  (count(CASE WHEN event_type IN ('click','view') THEN 1 END))::DOUBLE
      |    AS engagement,
      |  (count(DISTINCT CAST(ts AS DATE)))::DOUBLE AS active_days
      |FROM events GROUP BY user_id""".stripMargin
}
