package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("the missing-checksum filter drops only that warning of the checkpoint file manager") {
    Verify.dropMissingChecksumWarnings()
    val cfg = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration
    val lc = cfg.getLoggerConfig(Verify.ChecksumLogger)
    assert(lc.getName == Verify.ChecksumLogger)
    def dropped(msg: String): Boolean = lc.isFiltered(Log4jLogEvent.newBuilder()
      .setLoggerName(Verify.ChecksumLogger).setLevel(Level.WARN)
      .setMessage(new SimpleMessage(msg)).build())
    assert(dropped("No checksum file found for /tmp/ckpt/state/0/0/1.changelog, " +
      "hence skipping verification."))
    assert(!dropped("Checksum verification failed for /tmp/ckpt/state/0/0/1.changelog"))
    assert(!dropped("Deleted checksum file /tmp/ckpt/offsets/1.crc"))
    assert(lc.getLevel.isLessSpecificThan(Level.WARN), s"level ${lc.getLevel}")
  }
}
