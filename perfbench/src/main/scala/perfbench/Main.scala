package perfbench

/** Entry point: runs one workload and writes its raw record (timings,
  * digests, progress reports, spans) as JSON for `run.py`, which turns
  * it into metrics and checks the outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val raw = new Raw
    raw("workload") = opts.workload
    raw("seed") = opts.seed
    raw("seconds") = opts.seconds
    raw("trace") = opts.trace
    raw("cores") = graft.GraftSession.defaultParallelism
    val code =
      try {
        opts.workload match {
          case "kpi_stream" => KpiWorkload.run(opts, raw)
          case "registry" => RegistryWorkload.run(opts, raw)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        raw("peak_rss_mb") = Proc.peakRssMb
        if (opts.trace) raw("spans") = Trace.asRows
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          raw("fatal") = e.toString
          1
      }
    raw.write(opts.out)
    sys.exit(code)
  }
}
