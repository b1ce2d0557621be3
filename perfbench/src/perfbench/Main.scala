package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.ScaleDefaults

/** One benchmark run in one JVM: set up the engine's session, warm it
  * with one untimed query, run the workload and write the run record
  * (`<run>/record.json`) for `perfbench/run.py`, which checks the
  * outputs and prints the result.
  *
  *   --workload serving_sweep|corpus_graph|event_stream --seed N
  *   --seconds S --trace 0|1 --data DIR --run DIR --cores K
  *   --launch-ns EPOCH_NS (when the launcher started this process)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val run = opt("run")
    val k = opt("cores").toInt
    val launchNs = opt("launch-ns").toLong

    val spark = ScaleDefaults(SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.extraListeners", classOf[Ledger].getName), shufflePartitions = k.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = Ledger.instance
    if (trace) spark.listenerManager.register(new PlanLedger(ledger))

    spark.sparkContext.setJobGroup("warmup", "warmup", interruptOnCancel = false)
    SparkEntry.queries("q_topk")(spark, data).write.format("noop").mode("overwrite").save()
    spark.sparkContext.clearJobGroup()
    val now = Instant.now()
    val setupS = (now.getEpochSecond * 1000000000L + now.getNano - launchNs) / 1e9

    val out = workload match {
      case "serving_sweep" => Batch.run(spark, Batch.ServingSweep, data, s"$run/out", seconds, ledger, trace)
      case "corpus_graph" => Batch.run(spark, Batch.CorpusGraph, data, s"$run/out", seconds, ledger, trace)
      case "event_stream" => Stream.run(spark, seed, seconds, k, run, ledger, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val metrics = out("metrics").asInstanceOf[Map[String, Double]] + ("setup_s" -> setupS)
    val layers = out("layers").asInstanceOf[Map[String, Any]]
    val record = out ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "k" -> k,
      "spark" -> spark.version, "metrics" -> metrics, "layers" -> layers)
    Files.writeString(Paths.get(s"$run/record.json"), Json(record) + "\n")
    spark.stop()
  }
}
