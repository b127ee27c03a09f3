package graft.tools

import graft.LocalSession

/** Ad-hoc SQL entry point: registers the driver corpus tables as temp
  * views plus the graft custom functions, runs each argument as a SQL
  * statement, and prints the result.
  *
  * Usage: runMain graft.tools.SqlShell <sfDir> "SELECT ..." ["SELECT ..."]
  */
object SqlShell {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = LocalSession(LocalSession.envCores)
    graft.GraftFunctions.register(spark)
    graft.sources.Tables.names.foreach { n =>
      graft.sources.Tables(spark, sfDir, n).createOrReplaceTempView(n)
    }
    args.tail.foreach { sql =>
      println(s"graft> $sql")
      spark.sql(sql).show(20, truncate = false)
    }
    spark.stop()
  }
}
