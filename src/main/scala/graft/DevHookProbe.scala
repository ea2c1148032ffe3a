package graft

/** Dev probe: does the emergency-contract shutdown hook actually land its
  * line on stdout when this (forked) JVM is SIGTERMed? Isolates the hook +
  * fork-output path from the full bench. Usage:
  *   timeout -s TERM 25 sbt -batch "runMain graft.DevHookProbe" > out 2> err
  * PASS = `out` ends with the {"probe":"emergency-line",...} JSON line.
  * Pass `spark` as arg 1 to also start a SparkSession first (reproduces the
  * bench's hook environment, where Spark's own shutdown hook competes). */
object DevHookProbe {
  def main(args: Array[String]): Unit = {
    if (args.contains("spark")) {
      val spark = graft.core.Sessions.local("hookprobe")
      spark.sparkContext.setLogLevel("WARN")
      spark.range(10).count()
      System.err.println("[hookprobe] spark session live")
    }
    Bench.contractPrinted = false
    Bench.emergencyLine.set("""{"probe":"emergency-line","ok":true}""")
    Bench.registerEmergencyHook()
    System.err.println("[hookprobe] hook registered; sleeping until SIGTERM")
    Thread.sleep(300000L)
    System.err.println("[hookprobe] TIMED OUT without a signal — test harness error")
  }
}
