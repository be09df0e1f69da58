package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import graft.ingest.EdinetClient.{DocMeta, Transport}

/** A clock that only moves when the client sleeps on it. The rate limiter
  * and the retry backoff share it, so the time the configured pacing
  * would impose is read off exactly, and nothing really sleeps. */
final class VirtualClock {
  private var nanos = 0L
  var limiterWaitMs = 0L
  var backoffWaitMs = 0L
  def now(): Long = nanos
  def limiterSleep(ms: Long): Unit = { limiterWaitMs += ms; nanos += ms * 1000000L }
  def backoffSleep(ms: Long): Unit = { backoffWaitMs += ms; nanos += ms * 1000000L }
  def seconds: Double = nanos / 1e9
}

/** An in-process EDINET API serving a generated input. The generator's
  * transient failures fail their first attempt (HTTP 503); its give-up
  * documents fail every attempt. */
final class FakeEdinet(gen: EdinetGen) extends Transport {
  var listCalls, fetchCalls, failures = 0L
  var fetchedBytes = 0L
  private val attempted = mutable.HashSet.empty[String]

  private def fails(key: String): Boolean = gen.transientFailures(key) && attempted.add(key)

  private def serverError[T](key: String): Try[T] = {
    failures += 1
    Failure(new java.io.IOException(s"HTTP 503 for $key"))
  }

  override def listDocuments(date: LocalDate): Try[Seq[DocMeta]] = {
    listCalls += 1
    if (fails(s"list/$date")) serverError(s"list/$date")
    else Success(gen.listByDay.getOrElse(date, Nil))
  }

  override def fetchDocument(docId: String, fetchType: Int): Try[Array[Byte]] = {
    fetchCalls += 1
    if (gen.gaveUpDocs(docId) || fails(s"doc/$docId")) serverError(s"doc/$docId")
    else gen.archives.get(docId) match {
      case Some(bytes) => fetchedBytes += bytes.length; Success(bytes)
      case None => serverError(s"doc/$docId")
    }
  }
}
