package graft

import java.lang.management.ManagementFactory
import com.sun.management.HotSpotDiagnosticMXBean
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The session's execution pages and broadcast blocks are never humongous
  * objects: a JFR recording of a hash aggregate, a sort and a broadcast
  * join on the shared session sees no allocation from
  * `TaskMemoryManager.allocatePage` or `TorrentBroadcast` of half a G1
  * region or more (the rule in [[Spark]]'s scaladoc). */
class SessionMemorySpec extends SparkSpec {

  private val region = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    .getVMOption("G1HeapRegionSize").getValue.toLong

  /** The Spark allocator an allocation's stack passes through, if any. */
  private def source(e: RecordedEvent): Option[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map { f =>
      (f.getMethod.getType.getName, f.getMethod.getName)
    }.collectFirst {
      case ("org.apache.spark.memory.TaskMemoryManager", "allocatePage") => "allocatePage"
      case (t, _) if t.startsWith("org.apache.spark.broadcast.TorrentBroadcast") => "TorrentBroadcast"
    }

  test("execution pages and broadcast blocks stay under half a G1 region") {
    assume(region > 0, "the JVM does not run G1")
    val rec = new Recording()
    // outside-TLAB events carry every humongous allocation; new-TLAB ones
    // show the recording saw both allocators at all
    Seq("jdk.ObjectAllocationOutsideTLAB", "jdk.ObjectAllocationInNewTLAB")
      .foreach(rec.enable(_).withStackTrace())
    val file = java.nio.file.Files.createTempFile("graft_session_memory", ".jfr")
    try {
      rec.start()
      // the sort's pointer array (allocatePage too) grows with its rows
      // (about 32 B each): region / 256 rows keep it at an eighth of a
      // region, while every data page is a full page
      val facts = spark.range(region / 256).selectExpr("id % 1000 AS k", "id AS v")
      facts.groupBy("k").agg(sum("v")).write.format("noop").mode("overwrite").save()
      facts.orderBy(col("v").desc).write.format("noop").mode("overwrite").save()
      val dim = spark.range(1000).selectExpr("id AS k", "id * 2 AS w")
      facts.join(broadcast(dim), "k").write.format("noop").mode("overwrite").save()
      rec.stop()
      rec.dump(file)
      val sized = RecordingFile.readAllEvents(file).asScala.toSeq
        .flatMap(e => source(e).map(_ -> e.getLong("allocationSize")))
      assert(sized.map(_._1).toSet == Set("allocatePage", "TorrentBroadcast"))
      val humongous = sized.filter(_._2 >= region / 2)
      assert(humongous.isEmpty,
        s"allocations of half a $region-byte region or more: ${humongous.distinct.take(5)}")
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
