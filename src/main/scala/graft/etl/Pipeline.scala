package graft.etl

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's batch pipeline (reference: airflow_pipeline/dags/
  * oews_onet_dag.py:31-76 + pipeline/load_data.py:239-303): two parallel
  * extract→transform→load chains with materialized parquet stage
  * boundaries, date-partitioned paths, and append-only table loads.
  *
  * Observable semantics kept:
  *   - K1: every stage writes `<base>/<name>/<YYYY-MM-DD>/` and is
  *     overwrite-idempotent within a run date (load_data.py:244-254).
  *   - K3: the final load is append-only with NO key and NO dedup —
  *     rerunning a day duplicates rows (load_data.py:202-213).
  *   - O2: the run date is an explicit parameter (`runDate`) threaded
  *     through, never `LocalDate.now()` inside library code
  *     (load_data.py:239-246 derives "today" — injectable here for tests
  *     and for backfills).
  *
  * Scale notes: stage boundaries as parquet keep each stage restartable
  * and let 1000 executors re-read with full partition pruning on the
  * date directory. Raw parquet is the canonical source of record,
  * exactly as the reference itself persists it before any cleaning.
  */
final case class PipelineConfig(baseDir: String, runDate: LocalDate) {
  def stageDir(name: String): String = s"$baseDir/$name/$runDate"
}

/** Where the final load lands: the session catalog (parquet tables — the
  * engine default), or a JDBC database (the reference's actual target,
  * Postgres at load_data.py:17; tested against embedded Derby since the
  * sandbox has no server). Both preserve K2 DDL-first + K3 append-no-dedup.
  */
sealed trait LoadTarget
object LoadTarget {
  case object Catalog extends LoadTarget
  final case class Jdbc(url: String) extends LoadTarget
}

object Pipeline {

  /** K1 — overwrite-idempotent, date-partitioned parquet stage write. */
  def writeStage(df: DataFrame, cfg: PipelineConfig, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(cfg.stageDir(name))

  def readStage(spark: SparkSession, cfg: PipelineConfig, name: String): DataFrame =
    graft.sources.ParquetRead.read(spark, cfg.stageDir(name))

  /** extract_oews_data (load_data.py:256-263): scraped page HTML →
    * target-table parse (header from thead, drop-last-2 footer) → raw
    * parquet stage. The browser fetch itself (S1) stays out of engine
    * scope; callers hand in the page source.
    */
  def extractOews(spark: SparkSession, cfg: PipelineConfig, pageHtml: String): Unit =
    writeStage(graft.sources.HtmlTableSource.toDataFrame(spark, pageHtml),
      cfg, "oews_raw")

  /** extract_onet_skills_data (load_data.py:282-286): Skills workbook →
    * typed frame (pandas-inference parity) → raw parquet stage.
    */
  def extractOnet(spark: SparkSession, cfg: PipelineConfig, xlsxPath: String): Unit =
    writeStage(graft.sources.XlsxSource.readTyped(spark, xlsxPath),
      cfg, "onet_skills_raw")

  /** transform_oews_data (load_data.py:265-272): raw parquet → clean →
    * cleaned parquet. */
  def transformOews(spark: SparkSession, cfg: PipelineConfig): Unit =
    writeStage(OewsCleaner.clean(readStage(spark, cfg, "oews_raw")), cfg, "oews_cleaned")

  /** transform_onet_skills_data (load_data.py:288-295). */
  def transformOnet(spark: SparkSession, cfg: PipelineConfig): Unit =
    writeStage(OnetCleaner.clean(readStage(spark, cfg, "onet_skills_raw")), cfg, "onet_skills_cleaned")

  /** K2+K3 — load_oews_data / load_onet_skills_data (load_data.py:274-280,
    * 297-303): create-if-not-exists + append, no key, no dedup. `mode
    * ("append")` preserves the duplicate-on-rerun semantic, which is
    * observable reference behavior. Target is the session catalog by
    * default or JDBC (graft.sources.JdbcLoad) when configured —
    * reference parity with the Postgres sink.
    */
  def appendLoad(df: DataFrame, table: String,
      target: LoadTarget = LoadTarget.Catalog): Unit = target match {
    case LoadTarget.Catalog =>
      df.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)
    case LoadTarget.Jdbc(url) =>
      graft.sources.JdbcLoad.append(df, url, table)
  }

  def loadOews(spark: SparkSession, cfg: PipelineConfig,
      target: LoadTarget = LoadTarget.Catalog): Unit =
    appendLoad(readStage(spark, cfg, "oews_cleaned"), "oews_by_state", target)

  def loadOnet(spark: SparkSession, cfg: PipelineConfig,
      target: LoadTarget = LoadTarget.Catalog): Unit =
    appendLoad(readStage(spark, cfg, "onet_skills_cleaned"), "onet_skills", target)

  /** O1 — the DAG's two chains (oews_onet_dag.py:75-76). Spark's lazy DAG
    * subsumes intra-query ordering; the two chains are independent and
    * could run concurrently on one session.
    */
  def run(spark: SparkSession, cfg: PipelineConfig,
      target: LoadTarget = LoadTarget.Catalog): Unit = {
    // K2: DDL before loads, on whichever target receives them
    target match {
      case LoadTarget.Catalog => Schemas.ensureTables(spark)
      case LoadTarget.Jdbc(url) =>
        graft.sources.JdbcLoad.ensureTable(url, "oews_by_state", Schemas.OewsCleaned)
        graft.sources.JdbcLoad.ensureTable(url, "onet_skills", Schemas.OnetSkillsCleaned)
    }
    transformOews(spark, cfg)
    loadOews(spark, cfg, target)
    transformOnet(spark, cfg)
    loadOnet(spark, cfg, target)
    // the reference defines views.sql in the same Postgres it loads; the
    // Spark equivalent registers the loaded tables (JDBC-backed temp
    // views when the load went over JDBC) and creates the analytic views
    // on top, so `spark.table("vw_onet_closest_oews")` works either way
    target match {
      case LoadTarget.Catalog =>
        // a prior JDBC-target run on this session may have left
        // JDBC-backed TEMP views with these names; temp views shadow
        // catalog tables in name resolution, so the analytic views
        // would silently read the stale JDBC data — drop them first
        spark.catalog.dropTempView("oews_by_state")
        spark.catalog.dropTempView("onet_skills")
        // ...and the same shadowing applies to the analytic views a
        // prior JDBC-target run registered as TEMP
        spark.catalog.dropTempView("vw_oews_avg_over_onet")
        spark.catalog.dropTempView("vw_onet_closest_oews")
        // catalog tables under the views ⇒ the views can be PERSISTENT,
        // matching the reference's Postgres views (views.sql:3,18):
        // they outlive this session object (survive spark.newSession())
        WageAnalytics.createViews(spark, persistent = true)
      case LoadTarget.Jdbc(url) =>
        graft.sources.JdbcLoad.read(spark, url, "oews_by_state")
          .createOrReplaceTempView("oews_by_state")
        graft.sources.JdbcLoad.read(spark, url, "onet_skills")
          .createOrReplaceTempView("onet_skills")
        // the base relations are TEMP views here, so the analytic views
        // must be session-scoped too (persistent-over-temp is an
        // analysis error by design)
        WageAnalytics.createViews(spark)
    }
  }
}
