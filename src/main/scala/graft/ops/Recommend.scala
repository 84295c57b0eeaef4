package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Co-occurrence recommendation primitives: market-basket association
  * scores (support / confidence / lift) over a (basket, item) log —
  * the "users who bought X also bought Y" candidate generator, and the
  * association-rule readout behind every retail dashboard (Agrawal &
  * Srikant 1994's support/confidence frame plus lift).
  *
  * 100 TB shape: the log collapses to one sorted DISTINCT item array
  * per basket in a single exchange (`collect_set` — the distinct and
  * the basket grouping are the same shuffle), pinned; pairs stream
  * out of two generators per basket row (sum over baskets of
  * |basket|², bounded by the basket-size cap — a retail basket is
  * tens of items, so the quadratic term is a small constant; the rail
  * rejects degenerate "baskets" like a crawler session with 10⁵
  * items, right after the aggregate whose buffer is only linear in
  * basket size). Item marginals re-explode the SAME pinned arrays (no
  * second pass over the log), the basket total is a 1-row broadcast,
  * and minPairCount prunes the long tail before the marginal joins.
  * Ratios divide longs (exact IEEE, engine-portable), 6 dp.
  */
object Recommend {

  /** The shared basket collapse: one row per basket holding its sorted
    * DISTINCT item array, size-railed, PINNED (consumers: basket
    * total, item marginals, pair counts). `collect_set` IS the
    * "distinct (basket, item)" collapse, so the whole log pays exactly
    * ONE exchange — the former shape paid a (basket, item) distinct,
    * a basket-size aggregate, a size semi-join back AND a pair
    * self-join on the basket key (two more shuffles of the collapsed
    * log plus the sort-merge machinery). The rail still kills the
    * quadratic pair cost; the array buffer itself is linear in basket
    * size and bounded by the rail right after the aggregate.
    */
  private def basketArrays(txns: DataFrame, basketCol: String,
      itemCol: String, maxBasketSize: Int): DataFrame =
    txns.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__is"))
      .where(size(col("__is")) <= maxBasketSize)
      .select(col("__is"))
      .localCheckpoint(true)

  /** (item_a, item_b, n_ab), item_a < item_b, n_ab >= minPairCount,
    * from the pinned basket arrays: each basket's C(sz, 2) pairs
    * stream out of two generators (the triangle family's sort-free
    * pair-expansion device) — ascending array order makes item_a <
    * item_b by construction, and the count folds map-side.
    */
  private def pairCounts(baskets: DataFrame,
      minPairCount: Long): DataFrame =
    baskets
      .select(posexplode(col("__is")).as(Seq("__x", "item_a")),
        col("__is"))
      .select(col("item_a"),
        explode(slice(col("__is"), col("__x") + lit(2),
          size(col("__is")))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairCount)

  /** Market-basket association scores for item pairs co-occurring in
    * at least `minPairCount` baskets.
    *
    * Returns (item_a, item_b, n_a, n_b, n_ab, support, conf_a_b,
    * conf_b_a, lift) with item_a < item_b, the topK rows by
    * (lift desc, pair): support = n_ab/N, conf_a_b = n_ab/n_a,
    * lift = n_ab·N/(n_a·n_b) — lift > 1 means the pair co-occurs more
    * than independence predicts.
    *
    * `maxBasketSize` drops baskets with more distinct items than the
    * cap BEFORE pair generation (both the quadratic-cost rail and a
    * semantic one: a basket holding half the catalog carries no
    * association signal, it just links everything to everything).
    */
  def marketBasket(txns: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2, topK: Int = 100,
      maxBasketSize: Int = 1000): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    require(topK > 0, "topK must be positive")
    require(maxBasketSize >= 2, "maxBasketSize must be >= 2")
    val baskets = basketArrays(txns, basketCol, itemCol, maxBasketSize)
    val nBaskets = baskets.agg(count(lit(1)).as("__n"))
    val itemCnt = baskets.select(explode(col("__is")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val pairs = pairCounts(baskets, minPairCount)
    pairs
      .join(itemCnt.select(col("__i").as("item_a"), col("__c").as("n_a")),
        Seq("item_a"))
      .join(itemCnt.select(col("__i").as("item_b"), col("__c").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        round(col("n_ab").cast("double") / col("__n"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_ab").cast("double") / col("n_b"), 6).as("conf_b_a"),
        round(col("n_ab").cast("double") * col("__n") /
          (col("n_a") * col("n_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Item-item similarity (Sarwar et al. 2001; Linden, Smith & York
    * 2003's item-to-item CF) — the "users who did X also did Y"
    * neighbor lists behind every recommender candidate generator:
    * cosine over the basket co-occurrence matrix,
    * `cos(a,b) = n_ab / √(n_a·n_b)`, plus lift, read as per-item
    * TOP-K NEIGHBOR LISTS (the artifact [[recommendItems]] scores
    * against; [[marketBasket]] reads the same matrix as a global
    * rule dashboard instead).
    *
    * Returns one row per (item, neighbor) with rank ≤ `topKPerItem`:
    * (item, neighbor, n_item, n_neighbor, n_both, cosine, lift,
    * rank) — both directions of every pair (neighbor lists are
    * asymmetric: b can make a's top-k while a misses b's), rank by
    * (6-dp cosine desc, neighbor), ordered (item, rank).
    *
    * 100 TB shape: [[marketBasket]]'s exactly — one exchange collapses
    * the log to per-basket sorted item arrays, pairs stream out of the
    * generators under the `maxBasketSize` quadratic rail, marginals
    * re-explode the same pinned arrays, `minPairCount` prunes before
    * the marginal joins. The mirror-to-both-directions union and the
    * rank window run on the PAIR-grain frame (pair-bounded, item-
    * partitioned — never basket- or log-sized).
    */
  def itemSimilarity(txns: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2, topKPerItem: Int = 10,
      maxBasketSize: Int = 1000): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    require(topKPerItem > 0, "topKPerItem must be positive")
    require(maxBasketSize >= 2, "maxBasketSize must be >= 2")
    val baskets = basketArrays(txns, basketCol, itemCol, maxBasketSize)
    val nBaskets = baskets.agg(count(lit(1)).as("__n"))
    val itemCnt = baskets.select(explode(col("__is")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // item-sized; joined twice
    val half = pairCounts(baskets, minPairCount)
      .withColumnRenamed("item_a", "item")
      .withColumnRenamed("item_b", "neighbor")
      .withColumnRenamed("n_ab", "n_both")
    // mirror to both directions BEFORE ranking: neighbor lists need
    // every pair under each endpoint
    val pairs = half.unionByName(half.select(
      col("neighbor").as("item"), col("item").as("neighbor"),
      col("n_both")))
    val wItem = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor"))
    pairs
      .join(itemCnt.select(col("__i").as("item"), col("__c").as("n_item")),
        Seq("item"))
      .join(itemCnt.select(col("__i").as("neighbor"),
        col("__c").as("n_neighbor")), Seq("neighbor"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item"), col("neighbor"), col("n_item"),
        col("n_neighbor"), col("n_both"),
        round(col("n_both").cast("double") /
          sqrt(col("n_item").cast("double") *
            col("n_neighbor").cast("double")), 6).as("cosine"),
        round(col("n_both").cast("double") * col("__n") /
          (col("n_item") * col("n_neighbor")), 6).as("lift"))
      .withColumn("rank", row_number().over(wItem))
      .where(col("rank") <= topKPerItem)
      .orderBy(col("item"), col("rank"))
  }

  /** Item-based top-N recommendations — [[itemSimilarity]]'s neighbor
    * lists scored against each user's interaction history:
    * `score(u, c) = Σ_{i ∈ items(u)} cos(i, c)` over every neighbor
    * edge (i → c) leaving the user's items, candidates the user
    * already interacted with excluded (recommending what they already
    * did is a wasted slot). The Sarwar et al. 2001 weighted-sum
    * scorer with unit "ratings" (interaction counts collapse to
    * presence — a purchase log, not a star matrix).
    *
    * `sims` is [[itemSimilarity]] output (or any (item, neighbor,
    * cosine) frame). Returns (user, item, score, rank ≤ topN),
    * ordered (user, rank); rank by (6-dp score desc, item). Cosine
    * terms quantize to DECIMAL(38,12) before the per-candidate sum —
    * order-free exact addition, engine-replayable.
    *
    * 100 TB shape: the history collapses to DISTINCT (user, item);
    * scoring is ONE equi-join on the item key against the topK-per-
    * item-bounded neighbor frame (k·|items| rows — broadcast when the
    * catalog is small, hash-partitioned when not) + one (user,
    * candidate)-keyed aggregation; the already-seen exclusion is a
    * left-anti self-join on the SAME collapsed history; the rank
    * window is user-partitioned over the candidate-grain frame. No
    * user×catalog cross product anywhere.
    */
  def recommendItems(interactions: DataFrame, userCol: String,
      itemCol: String, sims: DataFrame, topN: Int = 10): DataFrame = {
    require(topN > 0, "topN must be positive")
    val hist = interactions
      .select(col(userCol).as("user"), col(itemCol).as("item"))
      .filter(col("user").isNotNull && col("item").isNotNull)
      .distinct()
      .localCheckpoint(true) // consumers: scoring join + seen-exclusion
    val edges = sims.select(col("item"), col("neighbor"),
      col("cosine").cast("decimal(38,12)").as("__w"))
    // per-user top-N as one hash aggregate (collect → in-row sort →
    // slice) instead of the rank window's exchange + full sort of the
    // candidate grain: ascending (−score, item) struct order IS
    // (score desc, item) — the window's exact pick, position = rank.
    // NOT bounded: a user's candidate set is ≤ |history(u)| × k
    // neighbor edges, and nothing caps |history(u)| (no rail like
    // itemSimilarity's maxBasketSize), so one heavy user's candidates
    // sit in a single in-memory aggregation buffer, where the rank
    // window it replaced could spill.
    hist
      .join(edges, Seq("item"))
      .groupBy(col("user"), col("neighbor").as("item"))
      .agg(sum(col("__w")).as("__s"))
      .join(hist, Seq("user", "item"), "left_anti")
      .select(col("user"), col("item"),
        round(col("__s").cast("double"), 6).as("score"))
      .groupBy(col("user"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("score")).as("s"), col("item").as("i")))), 1, topN)
        .as("__top"))
      .select(col("user"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("user"), col("__t.i").as("item"),
        (-col("__t.s")).as("score"), (col("__r") + 1).as("rank"))
      .orderBy(col("user"), col("rank"))
  }

  /** RFM segmentation (Hughes 1994's recency/frequency/monetary): per
    * customer, days since last order, order count, and total spend,
    * each scored 1..buckets against EXACT QUANTILE THRESHOLDS of the
    * customer population (score = 1 + thresholds beaten; recency
    * inverts — most recent scores highest). Quantile-threshold RFM,
    * not ntile-RFM, deliberately: a global ntile is a single-reducer
    * sort over every customer and gives tied customers different
    * scores by row order; thresholds are computed by the distributed
    * exact-quantile machine (`Quantiles.exact` — range partition +
    * prefix-sum ranks), give ties the same score, and bucket a 100M-row
    * customer frame with a handful of broadcast literals.
    *
    * Returns (customer, recency_days, frequency, monetary, r_score,
    * f_score, m_score).
    */
  def rfmSegments(txns: DataFrame, custCol: String, tsCol: String,
      amountCol: String, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val ref = txns.agg(max(to_date(col(tsCol))).as("__now"))
    val perCust = txns
      .crossJoin(broadcast(ref))
      .groupBy(col(custCol).as("customer"))
      .agg(
        min(datediff(col("__now"), to_date(col(tsCol)))).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)")).cast("double")
          .as("monetary"))
      .localCheckpoint(true) // consumers: three quantile probes + scoring
    val qs = (1 until buckets).map(_.toDouble / buckets)
    def thresholds(c: String): Seq[Double] =
      Quantiles.exact(perCust.select(col(c)), c, qs)
        .collect().sortBy(_.getDouble(0)).map(_.getDouble(1)).toSeq
    val (tR, tF, tM) = (thresholds("recency_days"),
      thresholds("frequency"), thresholds("monetary"))
    def above(c: String, ts: Seq[Double]): Column =
      ts.map(b => when(col(c) > b, 1).otherwise(0))
        .reduce(_ + _) + 1
    def below(c: String, ts: Seq[Double]): Column =
      ts.map(b => when(col(c) < b, 1).otherwise(0))
        .reduce(_ + _) + 1
    perCust
      .withColumn("r_score", below("recency_days", tR)) // recent = high
      .withColumn("f_score", above("frequency", tF))
      .withColumn("m_score", above("monetary", tM))
      .orderBy(col("customer"))
  }
}
