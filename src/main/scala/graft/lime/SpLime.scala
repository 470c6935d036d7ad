package graft.lime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SP-LIME submodular pick (KDD 2016 §4, Algorithm 2).
  *
  * Greedily selects B instances maximizing coverage of global feature
  * importance I_j = sqrt(Σ_i |W_ij|). Each of the B rounds is one
  * small aggregation job over the explanation matrix DataFrame; driver
  * state is the covered-feature set and picked ids — O(B + d'), never
  * O(instances), so the loop scales to any instance count.
  */
object SpLime {

  /** @param explanations (instance_id, `featureCol`, weight) rows, as
    *   Lime.explainTabular returns them; explainText's output fits once
    *   its doc_id is named instance_id and `featureCol` = "word"
    * @param wGate the local/distributed switch — private-default 1M
    *   rows; the bench's artifact_scale_splime row passes 0 to time the
    *   retained distributed rounds
    * @return picked (round, instance_id, marginal_gain)
    */
  def pick(explanations: DataFrame, b: Int,
           featureCol: String = "feature",
           wGate: Int = 1000000): Seq[(Int, Long, Double)] = {
    val w0 = explanations.select(
      col("instance_id"), col(featureCol).as("feature"), abs(col("weight")).as("aw"))
      .filter(col("aw") > 0)
    // At or below the gate the W matrix is bounded driver state
    // (O(instances·d') rows of ~30 bytes): collect it once and run the
    // B greedy rounds locally instead of B aggregation jobs. Same
    // algorithm, same (gain DESC, instance_id) argmax; the only
    // difference is double-sum order, which the importance spec
    // already tolerates at 1 ulp. Above the gate the distributed
    // per-round loop runs unchanged.
    // Probe-cost note (r14 A/B): cache-then-count-then-collect (so an
    // above-gate input skips the discarded collect) measured +0.8 s on
    // sp_lime_pick below the gate — the W cache materialization + the
    // extra job cost more than the plain truncated collect. Kept: the
    // single limit-collect probe; above the gate the one bounded
    // discarded collect amortizes over the B distributed rounds.
    val local = w0.limit(wGate + 1).collect()
    if (local.length <= wGate) return pickLocal(local.map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))), b)
    val w = w0.cache()
    val importance = w.groupBy("feature").agg(sqrt(sum(col("aw"))).as("imp"))

    var covered = Set.empty[String]
    var picked = Vector.empty[(Int, Long, Double)]
    var round = 0
    while (round < b) {
      // Marginal gain = Σ importance over this instance's not-yet-covered
      // features; instances with zero gain stay pickable (Algorithm 2
      // selects exactly B instances).
      // One job per round: the winner's feature set rides along via
      // collect_set, so no second job is needed to update `covered`.
      val gains = w
        .filter(!col("instance_id").isin(picked.map(_._2): _*))
        .join(broadcast(importance), "feature")
        .groupBy("instance_id")
        .agg(
          sum(when(col("feature").isin(covered.toSeq: _*), 0.0)
            .otherwise(col("imp"))).as("gain"),
          collect_set(col("feature")).as("feats"))
        .orderBy(col("gain").desc, col("instance_id"))
        .limit(1)
        .collect()
      if (gains.isEmpty) round = b
      else {
        val g = gains(0)
        val id = g.getLong(0)
        picked :+= ((round, id, g.getDouble(1)))
        covered ++= g.getSeq[String](2)
        round += 1
      }
    }
    w.unpersist()
    picked
  }

  /** The greedy rounds over the collected W rows — Algorithm 2
    * verbatim: I_j = sqrt(Σ|W_ij|), per round pick the instance with
    * the largest uncovered-importance sum (ties → smaller id), add its
    * features to the covered set. Zero-gain instances stay pickable.
    */
  private def pickLocal(rows: Array[(Long, String, Double)],
                        b: Int): Seq[(Int, Long, Double)] = {
    val imp: Map[String, Double] = rows.groupBy(_._2)
      .map { case (f, rs) => f -> math.sqrt(rs.map(_._3).sum) }
    val byInstance: Seq[(Long, Array[String])] = rows.groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(_._2) } // one row per (instance, feature)
      .toSeq.sortBy(_._1)
    var covered = Set.empty[String]
    var remaining = byInstance
    var picked = Vector.empty[(Int, Long, Double)]
    var round = 0
    while (round < b && remaining.nonEmpty) {
      var bestId = -1L; var bestGain = Double.NegativeInfinity
      remaining.foreach { case (id, feats) =>
        var g = 0.0
        feats.foreach(f => if (!covered(f)) g += imp(f))
        // argmax (gain DESC, instance_id): remaining is id-ascending,
        // so strict > keeps the smaller id on ties
        if (java.lang.Double.compare(g, bestGain) > 0) { bestGain = g; bestId = id }
      }
      val feats = remaining.find(_._1 == bestId).get._2
      picked :+= ((round, bestId, bestGain))
      covered ++= feats
      remaining = remaining.filterNot(_._1 == bestId)
      round += 1
    }
    picked
  }
}
