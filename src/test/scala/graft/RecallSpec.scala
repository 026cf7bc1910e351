package graft

/** Accuracy regression gates for the approximate ANN paths: recall@5
  * against e1's exact top-5 on the deterministic sf0.001 corpus (200
  * vectors, 40 probes). Every input and algorithm is deterministic, so
  * recall is an exact repeatable number — measured 0.92 / 0.82 / 0.975 /
  * 0.94 (e2 / e6 / e6b / e7) when the floors were set. The floors sit at
  * 0.7 so data-independent noise can't flake the suite, while any knob
  * change that collapses recall the way the pre-round-9 settings did
  * (0.13–0.41 on real corpora) fails loudly here instead of surfacing as
  * a VERDICT finding. `Probe scale <sfDir> 1` measures the same number
  * on the larger corpora (sf0.1: 0.905 / 0.825 / 0.850 / 0.825).
  */
class RecallSpec extends SparkSpec {

  private lazy val exact: Set[(Long, Long)] =
    SparkEntry.queries("e1_knn_bruteforce")(spark, Sf0001)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(name: String): Double = {
    val ann = SparkEntry.queries(name)(spark, Sf0001)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.count(ann.contains).toDouble / exact.size
  }

  for (name <- Seq("e2_knn_lsh", "e6_ivf_knn", "e6b_ivf_adaptive",
      "e7_binary_sign_ann", "e9_int8_adc_knn", "e10_pq_adc_knn",
      "e12_ivfpq_knn"))
    test(s"$name recall@5 vs the exact baseline stays above the floor") {
      val r = recall(name)
      assert(r >= 0.7, f"$name recall@5 = $r%.3f < 0.7 — an accuracy " +
        "regression in the ANN knobs (see SCALE.md)")
    }
}
