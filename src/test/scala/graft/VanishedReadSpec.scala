package graft

import java.io.FileNotFoundException

import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{QueryLog, QueryService}

/** The one vanished-file classifier behind the serving layer's and the
  * query log's single swap-window retry: only a file that vanished
  * under the swapped root retries; corruption or a missing file
  * elsewhere surfaces at once. */
class VanishedReadSpec extends AnyFunSuite {
  private val root = "/data/graft-cubes"
  private def job(cause: Throwable) =
    new RuntimeException("Job aborted due to stage failure", cause)

  test("a file vanished under the root retries") {
    assert(QueryService.vanishedUnder(job(new FileNotFoundException(
      s"File $root/star/s1995/cuboid=3/part-0.parquet does not exist")), root))
    assert(QueryService.vanishedUnder(job(new RuntimeException(
      "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while reading " +
        s"file $root/star/s1995/cuboid=3/part-0.parquet.")), root))
    assert(QueryService.vanishedUnder(new RuntimeException(
      s"[PATH_NOT_FOUND] Path does not exist: $root/star/s1995."), root))
  }

  test("corruption and missing files elsewhere do not retry") {
    assert(!QueryService.vanishedUnder(job(new RuntimeException(
      "[FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER] Encountered error while " +
        s"reading file $root/star/s1995/cuboid=3/part-0.parquet.",
      new RuntimeException("not a Parquet file"))), root))
    assert(!QueryService.vanishedUnder(job(new RuntimeException(
      "[FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH] Encountered " +
        s"error while reading file $root/star/s1995/part-0.parquet.")), root))
    assert(!QueryService.vanishedUnder(job(new FileNotFoundException(
      "File /data/sf0.1/lineitem.parquet/part-0.parquet does not exist")),
      root))
  }

  test("a query-log read retries once, and only on a file vanished " +
      "under its dir") {
    // routedSamples and missSets read through this one retry
    val dir = s"$root/_ql"
    val vanished = job(new FileNotFoundException(
      s"File $dir/_querylog/part-0.parquet does not exist"))
    val elsewhere = job(new FileNotFoundException(
      "File /data/sf0.1/lineitem.parquet/part-0.parquet does not exist"))
    var calls = 0
    def read(fail: Int => Option[Throwable]): Int = {
      calls = 0
      QueryLog.retryVanished(dir) {
        calls += 1
        fail(calls).foreach(e => throw e)
        calls
      }
    }
    // a vanished file under the dir: retried once
    assert(read(n => if (n == 1) Some(vanished) else None) == 2)
    // a second vanished-file failure propagates
    assert(intercept[RuntimeException](read(_ => Some(vanished))) eq vanished)
    assert(calls == 2)
    // a failure naming another path propagates at once
    assert(intercept[RuntimeException](read(_ => Some(elsewhere))) eq elsewhere)
    assert(calls == 1)
  }
}
