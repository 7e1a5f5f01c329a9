package graft

/** `runMain graft.Console [durable-dir]` — interactive shell over the
  * engine (the reference's `OConsoleDatabaseApp` product surface).
  * With a directory argument the database opens immediately; otherwise
  * start with `connect <dir>`. */
object Console {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in))
    val out = new java.io.PrintWriter(System.out)
    val console = new graft.engine.Console(spark, in, out)
    args.headOption.foreach(dir => console.dispatch(s"connect $dir"))
    console.run()
  }
}
