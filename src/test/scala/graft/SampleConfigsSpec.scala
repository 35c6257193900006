package graft

import org.apache.spark.sql.functions._

import graft.config.TaskConfig
import graft.sources.PredicateFrames

/** Six sample task configs must parse to the right window trees and run
  * end-to-end over a synthetic MEDS frame. The configs are repo-owned test
  * resources (`src/test/resources/sample_configs/`) named after the
  * reference's six sample tasks and covering the same constructs
  * (FIXTURES.md §5), written against the codes in `medsDf`.
  */
class SampleConfigsSpec extends SparkSpec {

  private def load(name: String): TaskConfig = {
    val src = scala.io.Source.fromResource(s"sample_configs/$name.yaml")
    try TaskConfig.fromYaml(src.mkString) finally src.close()
  }

  private lazy val medsDf = {
    import spark.implicits._
    // One subject with a plausible clinical trajectory covering every code
    // the six configs reference.
    val rows = Seq(
      (1L, "2020-01-01 00:00", "ADMISSION//MEDICAL", Double.NaN),
      (1L, "2020-01-01 01:00", "lab_name//O2 saturation pulseoxymetry (%)", 95.0),
      (1L, "2020-01-01 02:00", "PROCEDURE_START", Double.NaN),
      (1L, "2020-01-01 02:00", "procedure//Invasive Ventilation", Double.NaN),
      (1L, "2020-01-02 03:00", "lab_name//O2 saturation pulseoxymetry (%)", 85.0),
      (1L, "2020-01-03 00:00", "PROCEDURE_END", Double.NaN),
      (1L, "2020-01-03 00:00", "procedure//Invasive Ventilation", Double.NaN),
      (1L, "2020-01-04 00:00", "diagnosis//ICD9CM_41071", Double.NaN),
      (1L, "2020-01-05 00:00", "DISCHARGE//HOME", Double.NaN),
      (1L, "2020-02-01 00:00", "ADMISSION//MEDICAL", Double.NaN),
      (1L, "2020-02-03 00:00", "DEATH", Double.NaN),
      (2L, "2020-03-01 00:00", "ADMISSION//SURGICAL", Double.NaN),
      (2L, "2020-03-02 00:00", "lab_name//O2 saturation pulseoxymetry (%)", 130.0),
      (2L, "2020-03-05 00:00", "DISCHARGE//HOME", Double.NaN)
    )
    rows.toDF("subject_id", "time", "code", "numeric_value")
      .withColumn("time", to_timestamp(col("time")))
      .withColumn("numeric_value",
        when(isnan(col("numeric_value")), lit(null)).otherwise(col("numeric_value")).cast("float"))
  }

  private val expectedTrees = Map(
    "inhospital_mortality" -> Seq("input.end", "input.start", "gap.end", "target.end"),
    "imminent_mortality" -> Seq("gap.end", "target.end"),
    "abnormal_lab" -> Seq("input.start", "gap.end", "target.end"),
    "intervention_weaning" -> Seq("input.start", "target.end"),
    "long_term_recurrence" -> Seq("input.start", "gap.end", "target.end"),
    "readmission_risk" -> Seq("input.end", "target.end")
  )

  expectedTrees.foreach { case (name, tree) =>
    test(s"sample config '$name' parses and runs") {
      val cfg = load(name)
      assert(cfg.preorderWindowNames == tree, s"tree for $name")

      val plain = PredicateFrames.fromMeds(medsDf, cfg.plainPredicates.toSeq)
      val preds = PredicateFrames.finalize(cfg, plain)
      val result = Query(cfg, preds)
      // Runs without error; output schema carries the expected columns.
      val cols = result.columns.toSet
      assert(cols.contains("subject_id") && cols.contains("trigger"))
      cfg.labelWindow.foreach(_ => assert(cols.contains("label")))
      cfg.indexTimestampWindow.foreach(_ => assert(cols.contains("index_timestamp")))
      result.collect() // force full execution
    }
  }

  test("imminent mortality finds the death within 24h of the gap") {
    val cfg = load("imminent_mortality")
    val plain = PredicateFrames.fromMeds(medsDf, cfg.plainPredicates.toSeq)
    val preds = PredicateFrames.finalize(cfg, plain)
    val result = Query(cfg, preds)
    // anchor 2020-02-01 (and 2020-02-03 itself): death at 2020-02-03 00:00
    // falls in (t+2h, t+2h+24h] only for anchors within the prior day.
    val labeled = result
      .filter(col("label") > 0)
      .select(col("subject_id"), col("trigger").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(labeled.contains((1L, "2020-02-03 00:00:00")) === false,
      "death at the anchor itself is outside (t+2h, t+26h]")
    assert(!labeled.exists(_._1 == 2L))
  }
}
