package perfbench

import graft.KgMain
import org.apache.spark.sql.SparkSession

/** Set-up time: JVM start to the first timed operation — session,
  * model training, the kernel check, then the workload's inputs and
  * warm-up (`body`). The record keeps the time at each step.
  */
object Setup {
  def measure(h: Harness)(body: SparkSession => Unit): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    def mark(step: String): Unit =
      h.sample(step, (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val spark = h.spark(h.nproc)
    mark("setup.session_at_s")
    val model = KgMain.model
    mark("setup.model_at_s")
    Kernel.run(h, model)
    mark("setup.kernel_at_s")
    body(spark)
    mark("setup_s")
  }
}
