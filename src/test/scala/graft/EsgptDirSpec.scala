package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.config.{CodeEq, PlainPredicateDef}
import graft.sources.PredicateFrames

/** ESGPT directory loading (the layout the reference loads via the
  * external EventStream package, predicates.py:420-474) over a small
  * 3-table directory written in `beforeAll` in the FIXTURES.md §4 shape:
  * `subjects_df`, `events_df` with `&`-joined `event_type`,
  * `dynamic_measurements_df`, and a `config.json` whose `lab_name`
  * measurement names `lab_value` as its values column. Expected counts
  * are worked out by hand from the rows below.
  */
class EsgptDirSpec extends SparkSpec {

  private lazy val dir: String =
    java.nio.file.Files.createTempDirectory("graft_esgpt_fixture_").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // 3 subjects; blue eyes: 1 and 3.
    Seq((1L, "BLUE"), (2L, "BROWN"), (3L, "BLUE"))
      .toDF("subject_id", "eye_color")
      .write.parquet(s"$dir/subjects_df.parquet")
    // 11 events, unique per (subject, timestamp). Admissions: 1, 5, 9;
    // discharges: 4, 7, 11 — each admission's next discharge closes its stay.
    Seq(
      (1L, 1L, t("2020-01-01 08:00:00"), "ADMISSION&VITALS"),
      (2L, 1L, t("2020-01-01 12:00:00"), "VITALS"),
      (3L, 1L, t("2020-01-02 09:00:00"), "LAB"),
      (4L, 1L, t("2020-01-03 10:00:00"), "DISCHARGE&VITALS"),
      (5L, 2L, t("2020-02-01 00:00:00"), "ADMISSION"),
      (6L, 2L, t("2020-02-01 06:00:00"), "VITALS&LAB"),
      (7L, 2L, t("2020-02-04 00:00:00"), "DISCHARGE"),
      (8L, 3L, t("2020-03-01 00:00:00"), "VITALS"),
      (9L, 3L, t("2020-03-05 00:00:00"), "ADMISSION&LAB"),
      (10L, 3L, t("2020-03-06 00:00:00"), "VITALS"),
      (11L, 3L, t("2020-03-08 00:00:00"), "DISCHARGE")
    ).toDF("event_id", "subject_id", "timestamp", "event_type")
      .write.parquet(s"$dir/events_df.parquet")
    // SpO2 > 95: measurements 5 and 10 (97, 99; 93 and exactly 95 miss).
    // HR present: 1, 3, 8, 9, 12, 15. temp > 100: 2 and 11 (101.2, 100.5).
    Seq[(Long, Long, Option[String], Option[Double], Option[Double], Option[Double])](
      (1L, 1L, None, None, Some(88.0), None),
      (2L, 1L, None, None, None, Some(101.2)),
      (3L, 2L, None, None, Some(92.0), None),
      (4L, 2L, None, None, None, Some(99.1)),
      (5L, 3L, Some("SpO2"), Some(97.0), None, None),
      (6L, 3L, Some("SpO2"), Some(93.0), None, None),
      (7L, 3L, Some("creatinine"), Some(1.1), None, None),
      (8L, 4L, None, None, Some(75.0), None),
      (9L, 6L, None, None, Some(110.0), None),
      (10L, 6L, Some("SpO2"), Some(99.0), None, None),
      (11L, 6L, None, None, None, Some(100.5)),
      (12L, 8L, None, None, Some(70.0), None),
      (13L, 9L, Some("SpO2"), Some(95.0), None, None),
      (14L, 10L, None, None, None, Some(98.6)),
      (15L, 10L, None, None, Some(65.0), None)
    ).toDF("measurement_id", "event_id", "lab_name", "lab_value", "HR", "temp")
      .write.parquet(s"$dir/dynamic_measurements_df.parquet")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/config.json"),
      """{"measurement_configs": {
        |  "lab_name": {"modality": "multivariate_regression", "values_column": "lab_value"},
        |  "HR": {"modality": "univariate_regression"},
        |  "temp": {"modality": "univariate_regression"}
        |}}""".stripMargin)
  }

  override def afterAll(): Unit = {
    try {
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    } finally super.afterAll()
  }

  private val predicates = Seq(
    "admission" -> PlainPredicateDef(CodeEq("event_type//ADMISSION")),
    "discharge" -> PlainPredicateDef(CodeEq("event_type//DISCHARGE")),
    // multivariate measurement: values column (lab_value) resolved from config.json
    "high_spo2" -> PlainPredicateDef(CodeEq("lab_name//SpO2"), valueMin = Some(95.0)),
    // bare-column existence predicate
    "hr_any" -> PlainPredicateDef(CodeEq("HR")),
    // univariate measurement with a value bound: the column itself is the value
    "high_temp" -> PlainPredicateDef(CodeEq("temp"), valueMin = Some(100.0)),
    // static demographic
    "blue_eyes" -> PlainPredicateDef(CodeEq("eye_color//BLUE"), static = true)
  )

  test("directory loader matches hand-computed counts on the fixture") {
    val df = PredicateFrames.fromEsgptDir(spark, dir, predicates).cache()

    // 11 events (unique per (subject, ts)) + 3 static subject rows with
    // null timestamps.
    assert(df.count() == 14)
    assert(df.filter(col("timestamp").isNull).count() == 3)

    val sums = df.agg(
      sum("admission").as("a"), sum("discharge").as("d"), sum("high_spo2").as("s"),
      sum("hr_any").as("h"), sum("high_temp").as("t"), sum("blue_eyes").as("b")).head()
    assert(sums.getLong(0) == 3, "admission")
    assert(sums.getLong(1) == 3, "discharge")
    assert(sums.getLong(2) == 2, "high_spo2")
    assert(sums.getLong(3) == 6, "hr_any")
    assert(sums.getLong(4) == 2, "high_temp")
    assert(sums.getLong(5) == 2, "blue_eyes")
  }

  test("config.json values_column resolution (predicates.py:465-471)") {
    val vcs = PredicateFrames.esgptValueColumns(spark, dir, predicates)
    // Only the multivariate lab_name measurement declares a values column.
    assert(vcs == Map("high_spo2" -> "lab_value"))
  }

  test("full ESGPT cohort task end-to-end (admission -> discharge stay)") {
    val yaml =
      """predicates:
        |  admission: { code: event_type//ADMISSION }
        |  discharge: { code: event_type//DISCHARGE }
        |trigger: admission
        |windows:
        |  stay:
        |    start: trigger
        |    end: start -> discharge
        |    start_inclusive: False
        |    end_inclusive: True
        |    label: discharge
        |""".stripMargin
    val cfg = graft.config.TaskConfig.fromYaml(yaml)
    val plain = PredicateFrames.fromEsgptDir(spark, dir, cfg.plainPredicates.toSeq)
    val result = Query(cfg, PredicateFrames.finalize(cfg, plain)).cache()
    // 3 admissions, every one bounded by a discharge, exactly one
    // discharge per stay window.
    assert(result.count() == 3)
    assert(result.agg(sum("label")).head().getLong(0) == 3L)
  }

  test("directory path == API-level fromEsgpt path") {
    val viaDir = snap(PredicateFrames.fromEsgptDir(spark, dir, predicates))
    // The API-level path hands fromEsgpt raw frames; reading the
    // directory's parquet is the caller's responsibility (an ESGPT
    // dataset written by arrow2 needs the row-based reader — see
    // fromEsgptDir), so disable the vectorized reader for the evaluation
    // window, as a caller of a real dataset would.
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val viaApi =
      try
        snap(PredicateFrames.fromEsgpt(
          spark.read.parquet(s"$dir/subjects_df.parquet"),
          spark.read.parquet(s"$dir/events_df.parquet"),
          spark.read.parquet(s"$dir/dynamic_measurements_df.parquet"),
          Map("high_spo2" -> "lab_value"),
          predicates))
      finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(viaDir == viaApi)
  }
}
