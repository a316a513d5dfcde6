package perfbench

import java.util
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.mqtt._

/** The MQTT source with `planInputPartitions` timed from outside: a
  * benchmark-side subclass of the program's micro-batch stream, used by
  * traced runs only. Options are read as `MqttTable` reads them.
  */
class TracedMqttSourceProvider extends MqttSourceProvider {
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MqttTable(properties.asScala.toMap) {
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val broker = options.getOrDefault("broker", "default")
        val patterns = Option(options.get("subscribe")).map(_.split(',').toSeq).getOrElse(Seq("#"))
        val max = Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)
        () => new MqttScan(broker, patterns, max) {
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new TracedMqttSourceProvider.Stream(broker, patterns, max)
        }
      }
    }
}

object TracedMqttSourceProvider {
  /** (plan ns, partitions, rows) per planned batch. */
  private val plans = new ConcurrentLinkedQueue[Seq[Long]]()

  def drain(): Seq[Seq[Long]] = {
    val all = plans.asScala.toSeq
    plans.clear()
    all
  }

  final class Stream(broker: String, patterns: Seq[String], max: Option[Long])
      extends MqttMicroBatchStream(broker, patterns, max) {
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val t0 = System.nanoTime()
      val parts = super.planInputPartitions(start, end)
      val ns = System.nanoTime() - t0
      val rows = parts.map(_.asInstanceOf[MqttInputPartition].msgs.length.toLong).sum
      plans.add(Seq(ns, parts.length.toLong, rows))
      parts
    }
  }
}
