package graft.pipeline

import graft.detect.{Detectors, Resolver}
import graft.model.{DeidEvent, Entity, SpanEnt}

/** The per-turn detect → resolve → replace → normalize dataflow — the Spark
  * engine's pure core, cloning `DeidPipeline.process`
  * (`/root/reference/src/deid_pipeline/__init__.py:49-148`) minus file I/O.
  *
  * Default configuration mirrors the reference's golden environment
  * (`tests/conftest.py`): `USE_STUB=true` ⇒ the composite detector is
  * regex-only (`pii/detectors/__init__.py:20-76`), faker absent ⇒ MT19937
  * fallback replacement, language `zh`, locale `zh_TW`.
  */
object DeidCore {

  final case class Result(
      text: String,
      entities: List[Entity],
      events: List[DeidEvent],
      replacementMap: Map[String, String]
  )

  /** Detector-stack bag union before resolution (`composite.py:15-33`).
    * `withStub` prepends the model-stub detector (`bert_detector.py:162-177`)
    * ahead of the regex backstop, matching the composite's detector order.
    */
  def detectRaw(text: String, lang: String, withStub: Boolean): Array[SpanEnt] = {
    val regex = Detectors.regexDetect(text, lang)
    if (withStub) Detectors.stubDetect(text) ++ regex else regex
  }

  def detect(text: String, lang: String, withStub: Boolean): Array[SpanEnt] =
    Resolver.resolve(detectRaw(text, lang, withStub))

  /** Full per-turn pipeline: a [[DeidBlock]] of one turn. `mode` accepts
    * the reference's aliases.
    */
  def process(
      text: String,
      mode: String = "replace",
      lang: String = "zh",
      withStub: Boolean = false
  ): Result = {
    val b = DeidBlock.local
    b.processBlock(Array(text), 1, mode, lang, withStub, extractHtml = false)
    b.result(0)
  }
}
