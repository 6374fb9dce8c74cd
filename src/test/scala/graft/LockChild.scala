package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.util.AtomicTable

/** Child-JVM driver for [[CrossProcessLockSpec]] — the SECOND PROCESS
  * the `_LOCK`/`_APPEND_LOCK` file locks exist for. Inside one JVM the
  * per-table object monitor serializes writers first and the OS
  * `FileChannel` lock never contends, so a single-JVM stress test never
  * exercises it; this main is launched via ProcessBuilder on the test
  * classpath so the file-lock branch runs under real cross-process
  * contention. No SparkSession — the commit protocol is pure file IO, so
  * the child stays sub-second to start and the contention window is
  * tight.
  *
  * Modes:
  *  - `append <base> <appId> <nBatches> <keep> <expect>` — idempotent
  *    append of one marker file per batch, each immediately replayed
  *    (the replay must SKIP). `expect=fresh` requires every first
  *    attempt to commit; `expect=replay` requires every attempt to skip
  *    (the restarted-writer exactly-once contract). Any violation exits
  *    nonzero with a message — the parent asserts exit == 0.
  *  - `hold <base> <lockFile> <holdMs>` — take the raw OS lock on the
  *    named lock file, print `HELD`, sleep, release. The parent uses
  *    this to force a deterministic lost-race on each lock file and
  *    prove the other side BLOCKS until release (never errors, never
  *    proceeds early).
  *  - `sink <dir> <qid> <rows> <base>` — one GraftSink job driven through
  *    `SinkWriterFactory`/`SinkBatchWrite` directly: four tasks write the
  *    values `base … base+rows-1` to column `k`, the child prints
  *    `STAGED`, then commits the job and prints `COMMITTED`. The parent
  *    kills it at a seeded moment to inject a crash anywhere in the job
  *    commit.
  */
object LockChild {

  def main(args: Array[String]): Unit = args(0) match {
    case "append" =>
      val Array(_, base, appId, nBatches, keep, expect) = args
      var b = 1
      while (b <= nBatches.toInt) {
        def once(): Boolean =
          AtomicTable.appendIdempotent(base, appId, b.toLong, keep.toInt) { dir =>
            Files.writeString(Paths.get(dir, s"$appId-b$b.txt"), s"$appId $b\n",
              StandardOpenOption.CREATE_NEW)
          }
        val ran = once()
        expect match {
          case "fresh" =>
            if (!ran) { System.err.println(s"FRESH SKIPPED: $appId b$b"); sys.exit(3) }
            // immediate same-txn replay must skip even under contention
            if (once()) { System.err.println(s"REPLAY RAN: $appId b$b"); sys.exit(4) }
          case "replay" =>
            if (ran) { System.err.println(s"RESTART REPLAY RAN: $appId b$b"); sys.exit(5) }
        }
        b += 1
      }
      println(s"DONE $appId")

    case "hold" =>
      val Array(_, base, lockFile, holdMs) = args
      val root = Paths.get(base)
      Files.createDirectories(root)
      val ch = java.nio.channels.FileChannel.open(root.resolve(lockFile),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val l = ch.lock()
      println("HELD"); System.out.flush()
      Thread.sleep(holdMs.toLong)
      l.release(); ch.close()
      println("RELEASED")

    case "sink" =>
      val Array(_, dir, qid, rows, base) = args
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
      val factory = new graft.sources.SinkWriterFactory(dir, schema, qid)
      val tasks = 4
      val msgs = (0 until tasks).map { p =>
        val w = factory.createWriter(p, p.toLong)
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        var v = base.toLong + p
        while (v < base.toLong + rows.toLong) { row.setLong(0, v); w.write(row); v += tasks }
        w.commit()
      }.toArray[org.apache.spark.sql.connector.write.WriterCommitMessage]
      println("STAGED"); System.out.flush()
      new graft.sources.SinkBatchWrite(dir, schema, qid).commit(msgs)
      println("COMMITTED")

    case other =>
      System.err.println(s"unknown mode $other"); sys.exit(2)
  }
}
