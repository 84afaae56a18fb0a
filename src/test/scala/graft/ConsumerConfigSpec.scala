package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.ConsumerConfig

/** The fail-fast validation matrix
  * (`/root/reference/kinesis-processing.js:359-462`, confirmed by
  * `test/settings.test.js:226-285`) — a misconfigured pipeline must
  * throw at construction, before any job launches. */
class ConsumerConfigSpec extends AnyFunSuite {

  test("valid configurations construct") {
    ConsumerConfig()
    ConsumerConfig(sequencingRequired = false)
    ConsumerConfig(sequencingPerKey = true, keyPropertyNames = Seq("k1"))
    ConsumerConfig(idPropertyNames = Seq("a.b", "c"),
      seqNoPropertyNames = Seq("n1", "n2"))
  }

  test("sequencingPerKey without sequencingRequired is fatal") {
    intercept[IllegalArgumentException] {
      ConsumerConfig(sequencingRequired = false, sequencingPerKey = true,
        keyPropertyNames = Seq("k1"))
    }
  }

  test("sequencingPerKey without keyPropertyNames is fatal") {
    intercept[IllegalArgumentException] {
      ConsumerConfig(sequencingPerKey = true)
    }
  }

  test("keyPropertyNames without sequencingPerKey is fatal") {
    intercept[IllegalArgumentException] {
      ConsumerConfig(keyPropertyNames = Seq("k1"))
    }
  }

  test("retry and timeout budgets are bounded") {
    intercept[IllegalArgumentException] {
      ConsumerConfig(maxNumberOfAttempts = 0)
    }
  }
}
