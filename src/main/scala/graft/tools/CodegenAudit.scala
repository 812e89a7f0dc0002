package graft.tools

/** Round-close codegen audit: runs every headline query at the given
  * SF and reports any whole-stage-codegen compile failure (Spark
  * silently degrades to interpreted execution on Janino errors, so a
  * broken doGenCode ships green unless something listens). Detection
  * is a log4j appender on the CodeGenerator logger — the same ERROR
  * the bench log shows — attributed to the query running when it
  * fires.
  *
  *   sbt "runMain graft.tools.CodegenAudit [sfDir]"
  */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tables.builder("graft-codegen-audit")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"

    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var current = "<none>"

    // capture CodeGenerator ERRORs via a log4j2 appender
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender = new AbstractAppender(
        "graft-codegen-audit", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        val thrown = Option(e.getThrown)
          .map(t => t.toString.linesIterator.take(3).mkString(" | "))
          .getOrElse("")
        if (msg.contains("Failed to compile") ||
            thrown.contains("CompileException"))
          errors.add(current -> (msg.take(200) + " :: " + thrown.take(400)))
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val loggerCfg = cfg.getLoggerConfig(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    cfg.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()

    graft.Bench.headline.foreach { name =>
      graft.SparkEntry.queries.get(name).foreach { q =>
        current = name
        val before = errors.size()
        try q(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case e: Exception =>
          errors.add(name -> s"QUERY FAILED: ${e.getMessage.take(200)}")
        }
        val n = errors.size() - before
        println(f"$name%-28s ${if (n == 0) "ok" else s"$n CODEGEN ERRORS"}")
      }
    }
    println("==== summary ====")
    if (errors.isEmpty) println("all headline queries codegen-clean")
    else errors.forEach { case (q, m) => println(s"$q :: $m") }
    spark.stop()
    if (!errors.isEmpty) sys.exit(1)
  }
}
