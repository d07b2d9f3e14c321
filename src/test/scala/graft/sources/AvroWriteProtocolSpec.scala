package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Drives the Avro sink's DSv2 commit protocol under the failure
  * schedules Spark's scheduler can produce — task retry, speculative
  * duplicate attempts, and whole-job abort — and asserts exactly-once
  * VISIBLE output: after any schedule, the directory contains exactly
  * the committed attempts' final files and zero `.tmp` residue, and a
  * reader sees each partition's data once. */
class AvroWriteProtocolSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))

  private def row(id: Long, s: String): InternalRow =
    InternalRow.fromSeq(Seq(id, UTF8String.fromString(s)))

  private def batchWrite(dir: String) = new AvroBatchWrite(schema, dir)

  private def factory(dir: String) =
    batchWrite(dir).createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })

  /** Raw listing minus Hadoop's hidden `.crc` checksum sidecars (dot
    * prefix = hidden to readers by FS convention; `.tmp` attempt files
    * are also dot-prefixed, so they're asserted on explicitly). */
  private def ls(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).filterNot(_.endsWith(".crc")).sorted.toSeq)
      .getOrElse(Seq.empty)

  private def readBack(dir: String): Seq[(Long, String)] =
    spark.read.format("graft.sources.AvroSource").option("path", dir)
      .load().collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq

  test("task retry: failed attempt aborts cleanly, the retry's commit " +
      "is the only visible output") {
    val dir = tempDir("avro_retry").toString
    val f = factory(dir)
    // attempt 0 (taskId 100): writes one row, then the task fails
    val a0 = f.createWriter(0, 100L)
    a0.write(row(1L, "stale-attempt"))
    a0.abort()
    assert(ls(dir).forall(!_.endsWith(".tmp")),
      s"failed attempt leaked tmp files: ${ls(dir)}")
    assert(ls(dir).forall(!_.endsWith(".avro")),
      s"failed attempt made data visible: ${ls(dir)}")
    // attempt 1 (taskId 101): the retry, writes the full partition
    val a1 = f.createWriter(0, 101L)
    a1.write(row(1L, "good"))
    a1.write(row(2L, "rows"))
    val msg = a1.commit()
    // nothing visible until the DRIVER commits
    assert(ls(dir).forall(!_.endsWith(".avro")),
      "data visible before driver commit")
    batchWrite(dir).commit(Array(msg))
    assert(ls(dir) === Seq("part-0.avro"))
    assert(readBack(dir) === Seq((1L, "good"), (2L, "rows")))
  }

  test("speculative duplicates: both attempts finish, only the " +
      "coordinator-chosen one commits; the loser aborts without " +
      "touching the winner") {
    val dir = tempDir("avro_spec").toString
    val f = factory(dir)
    val win = f.createWriter(0, 200L)
    val lose = f.createWriter(0, 201L)
    win.write(row(1L, "winner"))
    lose.write(row(1L, "winner")) // same data — it's the same partition
    val msg = win.commit() // coordinator grants the first committer
    lose.abort()           // ... and denies the speculative twin
    batchWrite(dir).commit(Array(msg))
    assert(ls(dir) === Seq("part-0.avro"))
    assert(readBack(dir) === Seq((1L, "winner")))
  }

  test("job abort: a task-committed temp is removed by the driver " +
      "abort, nothing becomes visible") {
    val dir = tempDir("avro_abort").toString
    val f = factory(dir)
    val a = f.createWriter(0, 300L)
    a.write(row(1L, "doomed"))
    val msg = a.commit()
    // another task never finished: its slot is a null message
    batchWrite(dir).abort(Array(msg, null))
    assert(ls(dir).isEmpty, s"job abort left residue: ${ls(dir)}")
  }

  test("all-empty write commits ONE schema-bearing empty container " +
      "(the read side must stay schema-inferable — r16 adversarial " +
      "sweep); a mixed commit adds no extra file for empty partitions") {
    // all partitions empty -> exactly one empty part-0.avro, so a
    // subsequent read finds a header and returns zero rows
    val dir = tempDir("avro_empty").toString
    val f = factory(dir)
    val a = f.createWriter(3, 400L)
    val msg = a.commit() // never wrote a row
    batchWrite(dir).commit(Array(msg))
    assert(ls(dir) === Seq("part-0.avro"))
    assert(readBack(dir).isEmpty)
    // mixed: the empty partition's None message contributes nothing
    // beyond the real partition's file
    val dir2 = tempDir("avro_mixed").toString
    val f2 = factory(dir2)
    val w = f2.createWriter(0, 500L)
    w.write(row(1L, "a"))
    val real = w.commit()
    val e = f2.createWriter(1, 501L)
    batchWrite(dir2).commit(Array(real, e.commit()))
    assert(ls(dir2) === Seq("part-0.avro"))
  }

  test("end-to-end df.write path: fresh directory, exactly one file " +
      "per non-empty partition, round-trip intact") {
    import spark.implicits._
    val dir = tempDir("avro_e2e").toString + "/out"
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(4)
    AvroIo.write(df, dir)
    val files = ls(dir)
    assert(files.nonEmpty && files.forall(_.endsWith(".avro")),
      s"unexpected listing: $files")
    assert(readBack(dir) === (1L to 20L).map(i => (i, s"v$i")))
  }
}
