package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Documents too short for one 3-word shingle: the empty text (one empty
  * token), one token, two tokens. The oracle gives them no shingles, no
  * MinHash bands and no pairs; every near-dup query must run on a corpus
  * that holds them and must never name one in its output. Before the
  * shared text kit, p18 failed on `slice` start 0 and p02 hit an NPE in
  * `concat_ws` over the all-null signature of an empty shingle set.
  */
class DegenerateInputSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  /** Ids far above the gate corpus's, so no count column collides. */
  private val shortDocs = Seq(1000001L -> "", 1000002L -> "gamma", 1000003L -> "alpha beta")

  /** Every gate query built on the kit's tokenizer, shingle set, MinHash
    * pipeline, rare-shingle frame or overlap counts. */
  private val nearDup = Seq(
    "p02_dedup_minhash", "p04_dedup_jaccard", "p17_dedup_jaccard_capped",
    "p18_dedup_components", "p20_contamination", "p29_dedup_components_star",
    "p55_dedup_audit",
    "p68_cluster_reps", "p73_dupgraph_triangles", "p74_minhash_calibration",
    "p77_band_tuning", "p80_dedup_threshold_sweep", "p84_incremental_minhash",
    "p92_dup_distance_profile", "p94_cross_source_dup_matrix",
    "p95_component_safe_split", "p96_dedup_quality_gap",
    "p105_containment_dedup", "p128_lsh_bucket_skew", "p151_dedup_pair_eval",
    "p153_degree_assortativity", "p160_idf_weighted_jaccard",
    "p191_jaccard_prefix_filter", "p192_wjaccard_prefix_filter")

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-short-docs")
    Tables.names.filterNot(_ == "documents").foreach { t =>
      Files.copy(Paths.get(s"${SharedSpark.sf}/$t.parquet"), d.resolve(s"$t.parquet"))
    }
    import spark.implicits._
    val base = spark.read.parquet(s"${SharedSpark.sf}/documents.parquet")
    val extra = shortDocs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
    base.unionByName(extra).coalesce(1).write.parquet(d.resolve("documents.parquet").toString)
    d.toString
  }

  /** Output columns that hold a doc id (counts such as `n_docs` do not). */
  private def isIdColumn(name: String): Boolean =
    (name.contains("doc") && !name.startsWith("n_")) ||
      Set("node", "component", "src", "dst", "new_id", "old_id", "bench_id")(name)

  test("near-dup queries run with short docs and never link one to another doc") {
    // A short doc may still appear alone (p68 lists every doc with its own
    // singleton component, as the oracle does); it must never share a row
    // with a different doc — no pair, edge or cluster contains it.
    val ids = shortDocs.map(_._1).toSet
    val failures = nearDup.flatMap { q =>
      scala.util.Try {
        val df = SparkEntry.queries(q)(spark, dir)
        val idCols = df.schema.fields.indices.filter { i =>
          val f = df.schema.fields(i)
          isIdColumn(f.name) && (f.dataType == LongType || f.dataType == IntegerType)
        }
        df.collect().filter { (r: Row) =>
          val vs = idCols.filterNot(r.isNullAt).map(i => r.getAs[Number](i).longValue)
          vs.exists(ids) && vs.distinct.size > 1
        }
      }.fold(e => Some(s"$q failed: ${e.getMessage}"),
        linked => if (linked.isEmpty) None
          else Some(s"$q links a short doc: ${linked.take(3).mkString("; ")}"))
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
