package graft

import org.apache.spark.sql.functions._
import graft.io.WideIngest
import graft.ml.Normalization

/** SURVEY §7.4.1 — wide-parquet ingest: the one-time canonicalization from
  * the reference's native file shape (one column per gene) into the array
  * layout, with gene names preserved positionally as a sidecar. Values,
  * ordering, name-driven masks, and a downstream estimator are all checked;
  * the same path ran at the full 60,483 width in round 3 (BASELINE.md
  * §Full reference width).
  */
class WideIngestSpec extends SparkSpec {

  private val n = 40
  private val width = 300
  private val base = scratch("wide_ingest_spec")

  private lazy val staged: Unit = {
    WideIngest.writeWideSynthetic(spark, s"$base/wide", n, width)
    WideIngest.canonicalize(spark, s"$base/wide", "sample_id",
      s"$base/canonical", s"$base/genes")
  }

  test("canonicalized array preserves every value at its column position") {
    staged
    val wide = spark.read.parquet(s"$base/wide")
    assert(wide.schema.fieldNames.length == width + 1)
    val canon = WideIngest.readCanonical(spark, s"$base/canonical")
    assert(canon.select(size(col("features"))).head().getInt(0) == width)
    assert(canon.count() == n)
    // spot-check positions 0 (all-zero gene), 5, and width-1 against the
    // original wide columns, joined by key
    val probe = wide.select(col("sample_id"),
        col(f"ENSG${0}%011d").as("w0"), col(f"ENSG${5}%011d").as("w5"),
        col(f"ENSG${width - 1}%011d").as("wl"))
      .join(canon, "sample_id")
      .select(
        sum(when(col("w0") === col("features")(0), 0).otherwise(1)) +
        sum(when(col("w5") === col("features")(5), 0).otherwise(1)) +
        sum(when(col("wl") === col("features")(width - 1), 0).otherwise(1)))
      .head().getLong(0)
    assert(probe == 0L, "value/position mismatch after canonicalization")
  }

  test("gene-name sidecar drives regex position masks without re-widening") {
    staged
    val names = WideIngest.readNames(spark, s"$base/genes")
    assert(names.count() == width)
    // name at pos i is the zero-padded Ensembl-like id
    val mismatches = names
      .filter(col("gene") =!= format_string("ENSG%011d", col("pos"))).count()
    assert(mismatches == 0)
    val picked = WideIngest.positionsMatching(spark, s"$base/genes", "^ENSG0000000001[0-4]$")
    assert(picked == Seq(10, 11, 12, 13, 14))
  }

  test("UpperQuartile fits directly on the canonicalized layout") {
    staged
    val df = WideIngest.readCanonical(spark, s"$base/canonical")
    val model = new Normalization.UpperQuartile(0.75, "features").fit(df)
    // every 97th gene is all-zero in the synthetic → masked out
    assert(model.kept.size == width - (width + 96) / 97)
    val factors = df.select(model.scalingFactor.as("sf"))
      .agg(min("sf"), max("sf"), count(lit(1))).head()
    assert(factors.getLong(2) == n)
    assert(factors.getDouble(0) > 0 && factors.getDouble(1) < 10)
  }
}
