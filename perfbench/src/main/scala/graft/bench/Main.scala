package graft.bench

/** Benchmark engine process, started by `perfbench/run.py`:
  * `graft.bench.Main workload=<name> data=<dir> work=<dir> out=<file>
  * seed=<n> seconds=<s> trace=<0|1> cores=<n> [setups=<k>] ...`.
  * Writes the raw run record (set-up times, every operation, layer
  * readings) to `out` as JSON; `run.py` checks and summarizes it. */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        val c = Conf.parse(args)
        val record = c.workload match {
          case "queries_short" | "queries_iterative" => QueryWorkload.run(c)
          case "etl_incremental" => EtlWorkload.run(c)
          case w => throw new BenchError(s"unknown workload $w")
        }
        Harness.write(c.out, record)
        0
      } catch {
        case e: BenchError => System.err.println(s"[perfbench] ${e.getMessage}"); 3
        case e: Throwable => System.err.println("[perfbench] run failed"); e.printStackTrace(); 4
      }
    sys.exit(code)
  }
}
