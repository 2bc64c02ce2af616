import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.StreamingDedup

/** Streams the benchmark feed through StreamingDedup in batches of 12 and
  * writes the formatted executed plan of every SQL action of one batch.
  * args: feed.json workDir outFile batchToDump */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(feed, work, outFile, dumpBatch) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val rows = org.json4s.jackson.JsonMethods.parse(new File(feed))
      .extract[List[JValue]].map {
        case JArray(List(JInt(id), JString(t))) => (id.toLong, t)
        case d => sys.error(s"bad $d")
      }
    val batches = rows.grouped(12).toSeq
    @volatile var on = false
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (on) plans.synchronized { plans += s"---------- action: $f ----------\n" + qe.explainString(FormattedMode) }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(input.toDS().toDF("doc_id", "text"), "text", "doc_id",
      s"$work/index", s"$work/dups", s"$work/ckpt")
    batches.zipWithIndex.foreach { case (b, i) =>
      on = i == dumpBatch.toInt
      input.addData(b); q.processAllAvailable()
      Thread.sleep(500)  // listener events are asynchronous
      on = false
    }
    q.stop()
    val out = new PrintWriter(outFile)
    out.println(s"StreamingDedup batch $dumpBatch of ${batches.size} (12 documents each), local[4], 4 shuffle partitions")
    plans.foreach(out.println); out.close()
    spark.stop()
  }
}
