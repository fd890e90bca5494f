package graft

import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  test("the registry holds 222 queries in name order; queries is its view") {
    // (oracleSql is not read here: q52's oracle needs its run first)
    assert(Registry.all.size == 222)
    assert(Registry.all.map(_.name) == Registry.all.map(_.name).sorted)
    assert(SparkEntry.queries.keySet == Registry.all.map(_.name).toSet)
  }

  test("every memo is released once, right after the last query that declares it") {
    val released = Registry.releases.toSeq.flatMap { case (q, ms) => ms.map(_ -> q) }
    assert(released.map(_._1).toSet == Registry.all.flatMap(_.uses).toSet)
    assert(released.size == released.map(_._1).distinct.size, "a memo released twice")
    released.foreach { case (m, q) =>
      val declarers = Registry.all.filter(_.uses.contains(m)).map(_.name)
      assert(q == declarers.last, s"${m.name} released after $q, last declarer ${declarers.last}")
    }
  }

  test("the derived release schedule equals the hand-kept one it replaced") {
    val schedule = Registry.releases.map { case (q, ms) => q -> ms.map(_.name).toSet }
    assert(schedule == Map(
      "q12_ndcg_at_5" -> Set("popRecs"),
      "q13_triples" -> Set("kgTriples"),
      "q74_tucker_recs" -> Set("tsSplit"),
      "q76_dedup_corpus" -> Set("dedupCc"),
      "q122_personalized_pagerank" -> Set("kgEncoded"),
      "q139_mmr_diversify" -> Set("itemSims"),
      "q146_serendipity" -> Set("foldTrainKnnRecs"),
      "q152_baseline_mse" -> Set("folded5"),
      "q158_rank_agreement" -> Set("knnTop10", "popRank20"),
      "q165_frequent_triples" -> Set("relCapped", "coocTable"),
      "q172_markov2_recs" -> Set("markovT1", "markovT2"),
      "q202_er_unique_assign" -> Set("erScored")))
  }

  test("the bench warm-up set comes from the registry") {
    assert(Registry.all.filter(_.warm).map(_.name).toSet == Set(
      "q108_pipeline_e2e", "q116_pagerank", "q122_personalized_pagerank", "q123_itemknn_recs",
      "q125_hits", "q126_lpa_communities", "q133_rrf_fusion", "q137_rec_coverage",
      "q138_novelty_ild", "q139_mmr_diversify", "q142_kfold_knn_eval", "q145_coreness",
      "q151_userknn_recs", "q200_entity_resolution", "q202_er_unique_assign",
      "q213_poisson_bootstrap"))
  }
}
