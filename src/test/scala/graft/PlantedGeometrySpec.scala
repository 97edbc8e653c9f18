package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANN metrics on PLANTED geometry: the driver corpus embeddings are
  * near-random, so recall@10 there reports the floor for any truncating
  * method and cannot discriminate a broken index from noise. The
  * committed fixture (tools/make_planted_embeddings.py) engineers probe
  * vec_id=0's exact top-10 to be ids 1..10 by construction; against it
  * every rung of the ANN ladder must actually FIND planted structure —
  * sharp bounds a regression will trip. */
class PlantedGeometrySpec extends AnyFunSuite with SparkSessionTest {

  private val planted: String =
    new java.io.File(getClass.getResource("/planted_sf/embeddings.parquet").getPath)
      .getParent

  private def recall(name: String): Double =
    SparkEntry.queries(name)(spark, planted)
      .select("recall_at_10").head().getDouble(0)

  test("exact knn recovers the planted neighbors exactly") {
    val ids = SparkEntry.queries("q_vec_knn_cosine")(spark, planted)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 10L), s"exact top-10 was $ids")
  }

  test("IVF recall@10 finds the planted cluster") {
    val r = recall("q_vec_ann_recall")
    assert(r >= 0.9, s"ivf recall=$r (planted geometry should be ~1.0)")
  }

  test("PQ/ADC recall@10 finds the planted cluster") {
    val r = recall("q_vec_pq_recall")
    assert(r >= 0.9, s"pq recall=$r (planted geometry should be ~1.0)")
  }

  test("16-dim prefix recall@10 survives truncation on planted geometry") {
    val r = recall("q_vec_prefix_recall")
    assert(r >= 0.8, s"prefix recall=$r (0.1 on random data; planted must be high)")
  }

  test("sample-bounded pair scan equals the unbounded statement when N <= cap") {
    // the embSampleSub guard must be invisible below the 2000-vector cap
    // (the graded-SF bit-identity claim, exercised on a second corpus)
    val bounded = SparkEntry.queries("q_vec_pairs_threshold")(spark, planted)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    Tables.embeddings(spark, planted).createOrReplaceTempView("embeddings")
    val full = spark.sql(
      """WITH v AS (SELECT vec_id, label, embedding,
        |             sqrt(vec_dot(embedding, embedding)) AS nrm
        |           FROM embeddings)
        |SELECT label, vec_a, vec_b, cos_sim FROM (
        |  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(vec_dot(a.embedding, b.embedding) / (a.nrm * b.nrm), 6) AS cos_sim
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id) t
        |WHERE cos_sim >= 0.25""".stripMargin)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(bounded == full && bounded.nonEmpty,
      s"guard changed results below cap: ${bounded.length} vs ${full.length}")
  }
}
