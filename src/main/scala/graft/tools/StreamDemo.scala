package graft.tools

import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Live streaming surface: rate source → per-user event-time
  * sessionization → console, for `runMain` driving of the stateful path
  * (SURVEY.md §7.7 stretch). Runs ~NN seconds (arg, default 12) then stops.
  *
  *   sbt 'runMain graft.tools.StreamDemo 12'
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(12)
    val spark = graft.EngineSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // bursty users: each is active for ~4s then goes idle, so sessions
    // actually close (a `value % 5` user would never be inactive)
    val events = spark.readStream.format("rate").option("rowsPerSecond", 50).load()
      .select(
        expr("(value div 200) % 5").as("user_id"),
        col("timestamp").as("ts"),
        lit(1.0).as("value"))
    val sessions = StreamingIngest.sessionize(events, gapMs = 2000)
    val q = sessions.toDF().writeStream
      .format("console").option("truncate", false)
      .outputMode(OutputMode.Append)
      .start()
    Thread.sleep(seconds * 1000L)
    q.stop()
    spark.stop()
  }
}
