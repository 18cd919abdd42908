package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One dated CSV of the backlog: its landing name, the date it belongs to,
  * its size, and what the reference job must make of it. */
final case class Arrival(index: Int, date: LocalDate, name: String, intervals: Int,
                         bytes: Long, rows: Long, crcSum: Long)

/** Seeded landing zone for the reference job, independent of the engine.
  *
  * Arrival `i` is a function of (seed, i) alone. Every sixth arrival, from
  * the third on, is a further file for a seeded choice among the dates that
  * already landed, which sends the job down its partition-rebuild path; the
  * rest open the next calendar day. Fixing the positions keeps the mix of
  * new and rebuild jobs in a run the same for every seed. Each
  * file holds `intervals` rows in the `Sources.readingsSchema` shape,
  * out of start-time order, with `samples` in 1..8.
  *
  * Every file also carries its expected faithful-mode output, recomputed
  * here without Spark: the row count and the sum of CRC-32s of
  * `start_time|end_time|temperature` over the expanded rows. The expansion
  * follows the reference script: `delta = (end - start) / samples` in
  * doubles, row `k` spans `start + k * delta` to `start + (k + 1) * delta`,
  * each truncated to whole seconds and printed `yyyy-MM-dd HH:mm:ss` in UTC.
  */
final class Landing(seed: Long, intervals: Int, dir: Path) {
  private val firstDay = LocalDate.of(2023, 7, 3)
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val arrivals = scala.collection.mutable.ArrayBuffer.empty[Arrival]
  private val schedule = new java.util.Random(seed)
  private var nextDay = 0

  Files.createDirectories(dir)

  /** Path of arrival `i` in the backlog directory. */
  def file(a: Arrival): Path = dir.resolve(a.name)

  /** Arrival `i`, generating it (and every earlier one) on first use. */
  def apply(i: Int): Arrival = {
    while (arrivals.size <= i) arrivals += generate(arrivals.size)
    arrivals(i)
  }

  private def generate(i: Int): Arrival = {
    val landed = arrivals.map(_.date).distinct
    val late = i % 6 == 2
    val date =
      if (late) landed(schedule.nextInt(landed.size))
      else { nextDay += 1; firstDay.plusDays(nextDay - 1L) }
    val stamp = date.format(DateTimeFormatter.BASIC_ISO_DATE)
    val name =
      if (late) f"${stamp}_measurement_data_late$i%04d.csv"
      else s"${stamp}_measurement_data.csv"
    val rnd = new java.util.Random(seed * 1000003L + i)
    val day0 = date.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val sb = new java.lang.StringBuilder(intervals * 48)
    sb.append("start_time,end_time,samples,temperature\n")
    val crc = new java.util.zip.CRC32
    var rows = 0L
    var crcSum = 0L
    var n = 0
    while (n < intervals) {
      val start = day0 + rnd.nextInt(86400 - 900)
      val end = start + 10 + rnd.nextInt(890)
      val samples = 1 + rnd.nextInt(8)
      val temperature = (rnd.nextInt(501) - 100) / 10.0
      val t = temperature.toString
      sb.append(fmt.format(java.time.Instant.ofEpochSecond(start))).append(',')
        .append(fmt.format(java.time.Instant.ofEpochSecond(end))).append(',')
        .append(samples).append(',').append(t).append('\n')
      val delta = (end - start).toDouble / samples
      var k = 0
      while (k < samples) {
        val s = (start.toDouble + k * delta).toLong
        val e = (start.toDouble + (k + 1) * delta).toLong
        crc.reset()
        crc.update(s"${fmt.format(java.time.Instant.ofEpochSecond(s))}|${
          fmt.format(java.time.Instant.ofEpochSecond(e))}|$t".getBytes(StandardCharsets.UTF_8))
        crcSum += crc.getValue
        k += 1
      }
      rows += samples
      n += 1
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve(name), bytes)
    Arrival(i, date, name, intervals, bytes.length.toLong, rows, crcSum)
  }
}
