package graft

/** [[QueryProfile]]: counts exactly the jobs its body scheduled — on the
  * body's thread and on threads the body starts — groups them by
  * [[JobLabel]] phase, and reports the wall that ran inside no job.
  */
class QueryProfileSpec extends SparkTestBase {

  test("exact job and task counts for a 4-partition range count") {
    val (n, p) = QueryProfile.measure(spark)(spark.range(0, 100, 1, 4).count())
    n shouldBe 100L
    p.jobs.size shouldBe 2 // AQE: the 4-task map stage, then the final stage
    p.tasks shouldBe 5
    p.stages shouldBe 2
    p.taskMs should be >= 0L
    p.nojobS should be <= p.wallS
  }

  test("jobs group under their JobLabel phase") {
    val sc = spark.sparkContext
    val (_, p) = QueryProfile.measure(spark) {
      JobLabel(spark, "spec:first root_a") {
        sc.parallelize(1 to 10, 2).count()
        sc.parallelize(1 to 10, 3).count()
      }
      JobLabel(spark, "spec:second") { sc.parallelize(1 to 10, 1).count() }
      sc.parallelize(1 to 10, 1).count()
    }
    p.jobs.map(_.label).take(2) shouldBe Seq("spec:first root_a", "spec:first root_a")
    val by = p.byLabel.map(t => t._1 -> t._2).toMap
    by("spec:first") shouldBe 2
    by("spec:second") shouldBe 1
    by.values.sum shouldBe 4
    by.keys.filterNot(_.startsWith("spec:")).head should include("QueryProfileSpec")
    p.tasks shouldBe 7
    // the tag is scoped: a job after the body is nobody's
    sc.getLocalProperty("graft.profile.tag") shouldBe null
  }

  test("a job run on another, untagged thread is not counted") {
    val sc = spark.sparkContext
    // created before the body, so it does not inherit the body's tag
    val other = new Thread(() => { sc.parallelize(1 to 10, 3).count(); () })
    val (_, p) = QueryProfile.measure(spark) {
      other.start(); other.join()
      sc.parallelize(1 to 10, 2).count()
    }
    p.jobs.size shouldBe 1
    p.tasks shouldBe 2
  }

  test("nojob_s counts the body's wall outside every job") {
    val sc = spark.sparkContext
    val (_, p) = QueryProfile.measure(spark) {
      sc.parallelize(1 to 10, 2).count()
      Thread.sleep(200)
      sc.parallelize(1 to 10, 2).count()
    }
    p.jobs.size shouldBe 2
    p.nojobS should be >= 0.2
    p.nojobS should be <= p.wallS
  }

  test("a stream started inside the body has its micro-batch jobs counted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val (rows, p) = QueryProfile.measure(spark) {
      val q = input.toDF().writeStream.format("memory")
        .queryName("query_profile_spec").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      q.lastProgress.numInputRows
    }
    rows shouldBe 3L
    p.jobs should not be empty
    p.byLabel.map(_._1) should contain("stream:batch")
  }
}
