package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.data.Corpus

/** Grades the tables an operation wrote against [[Truth]]. Every check
  * returns the list of its failures; an empty list passes. */
object Checks {

  final case class PairRow(a: String, b: String, matched: Boolean, via: String,
                           inter: Option[Long], union: Option[Long], overlap: Option[Int])

  final case class Out(clusters: Map[String, String], pairs: Seq[PairRow], rejects: Map[String, String]) {
    def matched: Set[(String, String)] = pairs.filter(_.matched).map(p => (p.a, p.b)).toSet
  }

  def read(spark: SparkSession, dir: String): Out = {
    import spark.implicits._
    val clusters = spark.read.parquet(s"$dir/clusters").select("url", "cluster_id")
      .as[(String, String)].collect().toMap
    val pdf = spark.read.parquet(s"$dir/pairs")
    def opt(c: String, t: String) = if (pdf.columns.contains(c)) col(c).cast(t) else lit(null).cast(t)
    val pairs = pdf.select(col("url_a"), col("url_b"), col("matched"), opt("via", "string"),
        opt("jac_inter", "long"), opt("jac_union", "long"), opt("overlap_len", "int"))
      .collect().map { r =>
        PairRow(r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Int]))
      }.toSeq
    val rejects = spark.read.parquet(s"$dir/rejects").select("url", "reason")
      .as[(String, String)].collect().toMap
    Out(clusters, pairs, rejects)
  }

  private def diffClusters(got: Map[String, String], want: Map[String, String]): List[String] = {
    val bad = (got.keySet ++ want.keySet).count(u => got.get(u) != want.get(u))
    if (bad == 0) Nil else List(s"$bad urls differ from the truth's cluster assignment " +
      s"(got ${got.size} urls, truth ${want.size})")
  }

  private def matchedOutside(got: Set[(String, String)], allowed: Set[(String, String)]): List[String] = {
    val extra = got -- allowed
    if (extra.isEmpty) Nil else List(s"${extra.size} matched pairs are not in the truth, e.g. ${extra.head}")
  }

  /** oneshot: cluster partition and ids, matched pairs within the truth,
    * planted rejects, planted exact duplicates with their parent. */
  def oneshot(out: Out, truth: Truth.Live, kinds: Map[String, Corpus.Kind],
              urlOfIndex: Long => String): List[String] = {
    val planted = kinds.toList.flatMap {
      case (u, _: Corpus.LowEntropy) if out.rejects.get(u) != Some("low_entropy") => List(s"low-entropy $u not rejected")
      case (u, _: Corpus.EmptyDoc) if out.rejects.get(u) != Some("empty_text") => List(s"empty $u not rejected")
      case _ => Nil
    }
    val exactDups = kinds.toList.flatMap {
      case (u, Corpus.ExactDup(p)) =>
        val pu = urlOfIndex(p)
        if (truth.clusters.contains(u) && truth.clusters.contains(pu) && out.clusters.get(u) != out.clusters.get(pu))
          List(s"exact duplicate $u is not in its parent's cluster")
        else Nil
      case _ => Nil
    }
    val rejects = if (out.rejects == truth.rejects) Nil
      else List(s"rejects differ from the truth (${out.rejects.size} vs ${truth.rejects.size})")
    diffClusters(out.clusters, truth.clusters) ++ matchedOutside(out.matched, truth.simMatched) ++
      rejects ++ planted.take(3) ++ exactDups.take(3)
  }

  /** verify_substring: Jaccard counts and LCS lengths re-derived, clusters
    * equal to the components of (gated Jaccard truth + verified substring
    * pairs), dup-pair recall at least 0.99. `lcsOf` gives the reference LCS
    * length of a pair's page texts. */
  def verify(out: Out, truth: Truth.Live, minOverlap: Int,
             lcsOf: (String, String) => Int): List[String] = {
    val badCounts = out.pairs.filter(_.union.isDefined).filter { p =>
      truth.gated.get((p.a, p.b)) match {
        case Some((i, u, _)) => p.inter != Some(i) || p.union != Some(u)
        case None => true
      }
    }
    val checked = out.pairs.filter(_.overlap.isDefined)
    val badLcs = checked.filter(p => p.overlap.get != lcsOf(p.a, p.b))
    val substring = checked.filter(p => lcsOf(p.a, p.b) >= minOverlap).map(p => (p.a, p.b)).toSet
    val jac = truth.jaccardMatched
    val want = Truth.clustersOf(truth.repOf, jac ++ substring)
    val hits = (out.matched intersect jac).size
    val recall = if (jac.isEmpty) 1.0 else hits.toDouble / jac.size
    (if (badCounts.isEmpty) Nil else List(s"${badCounts.size} verified pairs carry wrong Jaccard counts, e.g. ${badCounts.head}")) ++
      (if (badLcs.isEmpty) Nil else List(s"${badLcs.size} substring-checked pairs carry a wrong overlap_len, e.g. ${badLcs.head}")) ++
      diffClusters(out.clusters, want) ++ matchedOutside(out.matched, jac ++ substring) ++
      (if (recall >= 0.99) Nil else List(f"dup-pair recall $recall%.4f < 0.99")) ++
      (if (out.rejects == truth.rejects) Nil else List("rejects differ from the truth"))
  }

  /** incremental: clusters equal the truth over the live set, matched pairs
    * within it. */
  def incremental(out: Out, truth: Truth.Live): List[String] =
    diffClusters(out.clusters, truth.clusters) ++ matchedOutside(out.matched, truth.simMatched)
}
