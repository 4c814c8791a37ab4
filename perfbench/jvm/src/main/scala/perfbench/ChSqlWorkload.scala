package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** `ch_sql`: closed loop, one client. Each operation turns one query's
  * ClickHouse-dialect text into collected rows. Every pass runs the whole
  * mix once, in an order shuffled by the seed.
  *
  * The eight SQL headline queries are sent as text through `ChSql.sql`;
  * the dialect queries are run through their declared builders, each of
  * which sends its own CH text through `ChSql.sql`. The first result of
  * every query is written as parquet for the DuckDB comparison; every
  * later result must equal it row for row.
  */
object ChSqlWorkload {
  val headline: Seq[String] = Seq(
    "q_scan_project", "q_prewhere", "q_agg_basic", "q_join_inner",
    "q_join_chain", "q_window_rank", "q_topn", "q_count_distinct")

  /** Declared, DuckDB-oracled queries whose builders go through
    * `ChSql.sql` (DialectQueries, Round4/5/8Queries) and answer in well
    * under a second. Left out, with their warm latency at sf0.1 on a
    * 4-core host: q_quantile_weighted_variants ~25 s, q_quantile_param
    * ~10 s, q_summap_sql ~3.4 s, q_quantile_exact_variants ~1.1 s,
    * q_quantile_timing_weighted ~1.0 s, q_corr_matrix ~0.96 s,
    * q_quantile_interp_variants ~0.89 s, q_ml_regression ~0.77 s and
    * q_skew_kurt ~0.74 s: statistical aggregates whose cost is compute,
    * not the interactive fixed costs this workload isolates. */
  val dialect: Seq[String] = Seq(
    "q_hash_exact", "q_besteffort_parse", "q_cast_forms", "q_typename_fold",
    "q_truthiness", "q_split_max",
    "q_encrypt_roundtrip", "q_vector_norms",
    "q_fn_ipv6", "q_datetime64",
    "q_json_subcolumns", "q_sparkbar_stem", "q_h3_family")

  def mix: Seq[String] = headline ++ dialect

  def oracles: Map[String, String] =
    mix.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.rec.tracer
    // the inputs arrive already split into BenchLayout.filesPerTable
    // parts (the layout BenchLayout.relayout produces), so scans split
    val dir = ctx.data
    graft.Tables.register(spark, dir)
    ctx.info("input_bytes") = dirBytes(ctx.data)
    val text = headline.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

    def build(name: String): DataFrame = text.get(name) match {
      case Some(sql) =>
        // translate is timed alone so the dialect's own share of
        // ChSql.sql can be separated from Catalyst parsing and analysis
        if (tr.enabled) tr.span("ChSql.translate")(graft.ChSql.translate(sql))
        tr.span("ChSql.sql")(graft.ChSql.sql(spark, sql, dir))
      case None =>
        tr.span("ChSql.builder")(graft.SparkEntry.queries(name)(spark, dir))
    }

    def execute(name: String): Array[Row] = {
      val df = build(name)
      val rows = tr.span("execute")(df.collect())
      if (tr.enabled) {
        val qe = df.queryExecution
        qe.tracker.phases.foreach { case (p, s) => tr.count(s"phase.$p", s.durationMs.toDouble) }
        qe.tracker.rules.filter(_._1.startsWith("graft.plans")).foreach { case (_, r) =>
          tr.count("rules.ns", r.totalTimeNs.toDouble)
          tr.count("rules.invoked", r.numInvocations.toDouble)
          tr.count("rules.effective", r.numEffectiveInvocations.toDouble)
        }
        tr.count(if (text.contains(name)) "chsql.text" else "chsql.builder", 1)
      }
      rows
    }

    // set-up: one untimed pass fixes each query's reference result (also
    // the copy DuckDB checks) and lets JIT and codegen caches fill
    val reference = scala.collection.mutable.HashMap.empty[String, String]
    // results are written the way graft.Verify writes them for the DuckDB
    // oracle (Spark's default INT96 timestamps read back as naive times)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    mix.foreach { name =>
      try {
        val df = build(name)
        val rows = df.collect()
        reference(name) = digest(rows)
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${ctx.out}/results/$name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] reference run of $name failed: $e")
      }
    }
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    // whole passes, so every run samples each query equally often
    val rnd = new scala.util.Random(ctx.seed)
    ctx.windows { (_, secs) =>
      (1 to ctx.passes(secs, 5.0)).foreach { _ =>
        rnd.shuffle(mix).foreach { name =>
          ctx.rec.op("query", name)(execute(name)) { rows =>
            reference.get(name) match {
              case None => Some("no reference result")
              case Some(d) if d != digest(rows) => Some("result differs from the reference run")
              case _ => None
            }
          }
        }
      }
    }
  }

  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytes(dir: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
}
