package graft.loopbench

import graft.solar.{SolarSynth, Topics}

/** Seeded solar telemetry: message `k` is device `k % 3`'s packet stamped
  * `Epoch0 + k` seconds, so every message has its own event time and the
  * store can be checked message by message. */
object Feed {
  val Epoch0 = 1700000000L

  val statusTopics: Seq[String] =
    Seq(Topics.MateStatus, Topics.DcStatus, Topics.FxStatus, Topics.MxStatus)

  private val specs = Map(
    Topics.DcName -> SolarSynth.dcSpecs,
    Topics.FxName -> SolarSynth.fxSpecs,
    Topics.MxName -> SolarSynth.mxSpecs)

  def measurement(k: Long): String = SolarSynth.measurementOf(k)
  def topic(k: Long): String = SolarSynth.topicOf(k)
  def fieldsOf(k: Long): Seq[SolarSynth.FieldSpec] = specs(measurement(k))
  def pointsOf(k: Long): Int = fieldsOf(k).size

  /** The packet's raw-value seed, drawn from the run's seed. */
  def base(rng: java.util.SplittableRandom): Long = rng.nextLong(0, 50000)

  def packet(k: Long, base: Long): Array[Byte] = (k % 3) match {
    case 0 => SolarSynth.encodeDc(Epoch0 + k, base)
    case 1 => SolarSynth.encodeFx(Epoch0 + k, base)
    case _ => SolarSynth.encodeMx(Epoch0 + k, base)
  }

  /** Sequence number of a data packet from its event-time prefix. */
  def seqOf(payload: Array[Byte]): Long = {
    val t = (payload(0) & 0xffL) | ((payload(1) & 0xffL) << 8) |
      ((payload(2) & 0xffL) << 16) | ((payload(3) & 0xffL) << 24)
    t - Epoch0
  }
}
