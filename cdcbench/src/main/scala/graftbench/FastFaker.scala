package graftbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import graft.model.{CdcEvent, Transaction}

/** Event-for-event replica of `graft.faker.TransactionFaker` that costs
  * O(1) per event.
  *
  * `TransactionFaker` picks a random account through
  * `byAccount.keys.toIndexedSeq`, which copies every account on every
  * event, so a few hundred thousand events take minutes. This replica
  * keeps the accounts in an insertion-ordered buffer beside the map and
  * makes the same `Random` calls in the same order, so one seed yields
  * the same events and the same `tableState` (checked by FastFakerSpec).
  */
final class FastFaker(seed: Long,
                      start: Instant = Instant.parse("2023-07-27T00:00:00Z"),
                      tickMicros: Long = 10000L) {
  private val rnd = new Random(seed)
  private val fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ").withZone(ZoneOffset.UTC)
  private var clock = start
  private val accounts = mutable.ArrayBuffer.empty[String]
  private val byAccount = mutable.HashMap.empty[String, mutable.ArrayBuffer[Transaction]]
  private val words = Vector("three", "way", "peace", "sing", "town", "trial",
    "indeed", "opportunity", "determine", "specific", "market", "value")

  /** Event time of the last event emitted. */
  def now: Instant = clock

  private def tick(): String = {
    clock = clock.plusNanos((tickMicros + rnd.nextLong(tickMicros)) * 1000L)
    fmt.format(clock)
  }
  private def phone(): String =
    f"${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(9000) + 1000}%04d"
  private def sentence(): String =
    Seq.fill(3 + rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" ").capitalize + "."
  private def entity(): String =
    words(rnd.nextInt(words.size)).capitalize + ", " + words(rnd.nextInt(words.size)).capitalize + " and " + words(rnd.nextInt(words.size)).capitalize

  private def insert(): CdcEvent = {
    val ts = tick()
    val acct = if (accounts.nonEmpty && rnd.nextDouble() < 0.5)
      accounts(rnd.nextInt(accounts.size))
    else phone()
    val t = Transaction(acct, ts, ts, entity(),
      rnd.nextInt(1000) + 1, rnd.nextInt(2), sentence())
    byAccount.getOrElseUpdate(acct, { accounts += acct; mutable.ArrayBuffer.empty }) += t
    CdcEvent("INSERT", t.account, t.create_at, t.update_at, t.entity,
      t.amount, t.is_credit, t.note)
  }

  private def update(): CdcEvent = {
    val rows = byAccount(accounts(rnd.nextInt(accounts.size)))
    // create_at is unique (the clock is strictly monotone), so the
    // drawn index is the position TransactionFaker's indexOf finds
    val i = rows.size - 1 - rnd.nextInt(math.min(3, rows.size))
    val updated = rows(i).copy(update_at = tick(), note = sentence())
    rows(i) = updated
    CdcEvent("MODIFY", updated.account, updated.create_at, updated.update_at,
      updated.entity, updated.amount, updated.is_credit, updated.note)
  }

  /** Next CDC event: 70% insert / 30% update-of-note. */
  def next(): CdcEvent =
    if (accounts.isEmpty || rnd.nextDouble() < 0.7) insert() else update()

  def events(n: Int): Seq[CdcEvent] = Seq.fill(n)(next())

  /** Source-of-truth table state, in TransactionFaker's order. */
  def tableState: Seq[Transaction] = accounts.toSeq.flatMap(byAccount)
}
