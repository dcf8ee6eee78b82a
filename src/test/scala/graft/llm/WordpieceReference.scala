package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextHash.words

/** The per-document wordpiece token count as a higher-order fold:
  * every word of the doc runs [[Wordpiece.greedyFold]] inside a
  * `transform` lambda, UNK words count 1. The system scores with the
  * native kernel ([[Wordpiece.tokenCountNative]]); this form lives
  * here as the specification that kernel and the join-based
  * `wp_tokens` of [[Wordpiece.encodeCounts]] must equal, not as a code
  * path. `initAttr`/`contAttr` are the [[Wordpiece.vocabMaps]]
  * literals bound as columns.
  */
object WordpieceReference {

  def tokenCountCol(text: Column, vs: Seq[(String, Boolean)],
                    initAttr: Column, contAttr: Column,
                    maxWordLen: Int = 24): Column = {
    require(vs.nonEmpty, "empty wordpiece vocabulary")
    val maxPiece = vs.map(_._1.length).max
    aggregate(
      transform(words(lower(trim(text))), w => {
        val st = Wordpiece.greedyFold(w, initAttr, contAttr, maxPiece, maxWordLen)
        when(st("unk"), lit(1)).otherwise(st("toks"))
      }),
      lit(0), (acc, t) => acc + t)
  }
}
