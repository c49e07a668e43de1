package graft.serve

import graft.{GraftSession, Tables}
import graft.pipeline.Orchestrator
import org.apache.spark.sql.SparkSession

/** Server entry point (the reference's `npm start` analogue,
  * README.md:131-135): registers every parquet table under the data
  * dir in the session catalog, optionally points `/status` at the
  * file-pipeline checkpoint table, and serves the full HTTP surface —
  * `POST /query` runs verbatim SQL (incl. the ClickHouse-compat
  * aliases GraftSession registers), plus the README example endpoints.
  *
  * Usage: `runMain graft.serve.Serve <dataDir> [metaPath]`
  * (port via GRAFT_PORT, default 7001).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val dataDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.001")
    val port = sys.env.getOrElse("GRAFT_PORT", "7001").toInt

    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = start(spark, dataDir, args.lift(1), port)
    println(s"""{"serving":${srv.boundPort},"tables_dir":"$dataDir"}""")
    Thread.currentThread.join()
  }

  /** Registers the data dir's tables and starts the server on `port`
    * (0 picks a free one). `/status` reads the checkpoint table through
    * [[Orchestrator.loadMeta]]: with its known schema, so no job infers
    * one, and from `<meta>.old` when a pass stopped between its two
    * renames.
    */
  def start(spark: SparkSession, dataDir: String, metaPath: Option[String],
      port: Int): HttpServe = {
    Option(new java.io.File(dataDir).listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val name = f.getName.stripSuffix(".parquet")
        Tables.load(spark, dataDir, name).createOrReplaceTempView(name)
      }
    val statusMeta = metaPath.map(p => () => Orchestrator.loadMeta(spark, p))
    val srv = new HttpServe(spark, port, statusMeta)
    srv.start()
    srv
  }
}
