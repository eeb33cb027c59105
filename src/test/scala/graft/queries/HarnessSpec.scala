package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** [[Harness]]: run-scoped scratch, the dead-run sweep, and the stream
  * drain that always stops its query. */
class HarnessSpec extends SparkSpec {

  private val sf = "data/sf0.001"

  behavior of "Harness.scratch"

  it should "return a fresh, empty directory under this process's run root" in {
    val d = Harness.scratch(spark, "spec-fresh", sf)
    d should startWith(Harness.runRoot(spark) + "/")
    Harness.runRoot(spark) should include(s"/${ProcessHandle.current.pid}-")
    Files.writeString(Paths.get(d, "leftover"), "x")
    val again = Harness.scratch(spark, "spec-fresh", sf)
    again shouldBe d
    new File(again).isDirectory shouldBe true
    new File(again).list() shouldBe empty
  }

  it should "give one path per family and sf within a process" in {
    Harness.scratch(spark, "spec-a", sf) shouldBe Harness.scratch(spark, "spec-a", sf)
    Harness.scratch(spark, "spec-a", sf) should not be Harness.scratch(spark, "spec-b", sf)
    Harness.scratch(spark, "spec-a", sf) should not be
      Harness.scratch(spark, "spec-a", "data/sf0.01")
  }

  it should "sweep run roots of dead processes and keep its own" in {
    val own = Harness.scratch(spark, "spec-own", sf)
    // no live process has a PID above the kernel's pid_max (≤ 2^22)
    val dead = Paths.get(new File(Harness.runRoot(spark)).getParent,
      s"${Int.MaxValue}-local-0", "stale-family")
    Files.createDirectories(dead)
    Files.writeString(dead.resolve("part-0"), "stale")
    Harness.sweepDeadRuns(spark)
    Files.exists(dead.getParent) shouldBe false
    new File(own).isDirectory shouldBe true
  }

  behavior of "Harness.streamParity"

  it should "stop the query when the ingest fails" in {
    import spark.implicits._
    val base = Harness.scratch(spark, "spec-stream", sf)
    val input = Seq(1L, 2L, 3L).toDF("id")
    var started: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    intercept[StreamingQueryException] {
      Harness.streamParity(spark, base, input.schema)(
        () => input.write.parquet(s"$base/in")) { stream =>
        val q = stream.writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("ingest failed") }
          .start()
        started = Some(q)
        q
      }
    }
    started.map(_.isActive) shouldBe Some(false)
    spark.streams.active.map(_.id) should not contain started.get.id
  }
}
