package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: EXECUTE a SparkEntry query (noop sink) and dump its final
  * physical plan — with AQE on, exchange/subtree reuse only materializes
  * at runtime (the static `Explain` dump shows `isFinalPlan=false` and no
  * ReusedExchange), so plan-reuse claims are only checkable from the
  * executed plan. Usage: runMain graft.ExplainExec [sfDir] [query...]
  */
object ExplainExec {

  /** Writes `df` through the noop sink and returns the physical plan that
    * write ran. The write plans its own QueryExecution, so
    * `df.queryExecution` would still show the unexecuted plan; the
    * write's QueryExecution is captured with a listener. Listener events
    * arrive asynchronously, and events of earlier actions on the session
    * may still be queued, so only a write command's event is taken. */
  def executedPlan(df: DataFrame): SparkPlan = {
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand])
          writes.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = df.sparkSession.listenerManager
    listeners.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      val qe = writes.poll(60, TimeUnit.SECONDS)
      require(qe != null, "no QueryExecution event for the noop write within 60 s")
      qe.executedPlan
    } finally listeners.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n========== $name (executed) ==========")
        try println(executedPlan(fn(spark, sfDir)).toString)
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        CacheTracker.drainAll(spark)
      }
    }
    spark.stop()
  }
}
