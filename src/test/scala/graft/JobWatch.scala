package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block launches on the calling thread. The block runs
  * under a fresh job group and a listener records that group's job
  * starts; a barrier job in a second group then makes the record final
  * (listener events are delivered in order, so once the barrier's start
  * arrives, every earlier job's has too). */
object JobWatch {

  /** Job descriptions, in start order: `spark.job.description` when a job
    * sets one (file listing does: "Listing leaf files and directories
    * …"), else the group's own id. */
  def jobsDuring(spark: SparkSession)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobwatch-${System.nanoTime()}"
    val barrier = s"$group-barrier"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => seen.add(
            props.flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(group))
          case Some(`barrier`) => barrierSeen.countDown()
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrierSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the barrier job")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
