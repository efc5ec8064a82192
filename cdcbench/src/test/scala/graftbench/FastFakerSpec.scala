package graftbench

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.faker.TransactionFaker

class FastFakerSpec extends AnyFunSuite {

  test("replays TransactionFaker event for event, with the same table state, at n = 2,000") {
    for ((seed, tick) <- Seq((1L, 10000L), (42L, 7000000L), (20261017L, 667L))) {
      val start = Instant.parse("2023-07-27T00:00:00Z")
      val slow = new TransactionFaker(seed, start, tick)
      val fast = new FastFaker(seed, start, tick)
      val expected = slow.events(2000)
      val got = fast.events(2000)
      assert(got === expected, s"seed $seed")
      assert(got.count(_.eventName == "MODIFY") > 300, "the stream must carry updates")
      assert(fast.tableState === slow.tableState, s"seed $seed")
    }
  }

  test("different seeds give different streams") {
    assert(new FastFaker(1L).events(50) != new FastFaker(2L).events(50))
  }
}
