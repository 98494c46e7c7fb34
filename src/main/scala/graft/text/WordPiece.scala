package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece-style subword tokenizer: a frequency-scored substring
  * vocabulary plus greedy longest-match-first segmentation — the
  * inference algorithm of the BERT-family tokenizers (Wu et al. 2016's
  * MaxMatch step), with the vocabulary built by the SentencePiece seed
  * heuristic (substring count × length) instead of likelihood training.
  * Everything is INTEGER arithmetic and deterministic tie-breaks, so —
  * unlike a likelihood-trained unigram LM — both the fit and the encode
  * replay exactly in SQL: q_wordpiece_vocab / q_wordpiece_encode carry
  * FULL DuckDB oracles (recursive-CTE greedy walk), not contract checks.
  *
  * Complements [[Bpe]]: BPE learns MERGES (encode = replay merges);
  * WordPiece learns a PIECE INVENTORY (encode = greedy longest match).
  * Both keep the corpus-sized work distributed and the model driver-side
  * bounded.
  *
  * Scale shape:
  *  - fit: one token-count shuffle (map-side combining) over the corpus,
  *    then substring explosion over the DISTINCT-WORD table — vocabulary-
  *    bounded, not corpus-bounded — and a top-V TakeOrdered. At 100 TB
  *    the corpus pass is the token groupBy; everything after runs on the
  *    (language-bounded) word table.
  *  - encode: the vocabulary is a broadcast model object (≤ vocabSize
  *    strings) inside a codegen'd kernel — a pure scan-side projection,
  *    NO join, NO shuffle, same tier as Bpe apply.
  */
object WordPiece {

  /** All substrings of `w` up to `maxLen` chars, one entry PER
    * OCCURRENCE (start position) — multiplicity inside a word counts,
    * matching the oracle's start×len unnest exactly.
    */
  private def substrings(w: Column, maxLen: Int): Column =
    flatten(transform(sequence(lit(1), length(w)), s =>
      transform(sequence(lit(1), least(lit(maxLen), length(w) - s + 1)), l =>
        w.substr(s, l))))

  /** Corpus → (w, f) word-frequency table: the ONLY corpus-sized pass of
    * the fit, and exactly the shape a standing word-count state table
    * maintains (see [[vocabFromWordCounts]] and the continual-refit pin
    * in StreamingSpec).
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(filter(split(trim(col(textCol)), "\\s+"), _ =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** (piece, occ, score) over all substrings of the word table up to
    * `maxPieceLen`: occ = corpus occurrences (per start position ×
    * word frequency), score = occ × length — the shared seed statistic
    * of the WordPiece (greedy) and [[Unigram]] (Viterbi) fits.
    */
  def pieceCounts(words: DataFrame, maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 2 && maxPieceLen <= 16,
      s"maxPieceLen in [2,16], got $maxPieceLen")
    words
      .select(col("f"), explode(substrings(col("w"), maxPieceLen)).as("piece"))
      .groupBy("piece").agg(sum(col("f")).as("occ"))
      .select(col("piece"), col("occ"),
        (col("occ") * length(col("piece"))).as("score"))
  }

  /** Fit from a (w, f) word-count table — the vocabulary depends on the
    * corpus ONLY through word frequencies, so a refit from an
    * incrementally-maintained standing count state (Ivm / ivmAppender)
    * is bit-identical to a full-corpus fit without rescanning history:
    * the continual-tokenizer maintenance loop.
    */
  def vocabFromWordCounts(
      words: DataFrame,
      vocabSize: Int = 64,
      maxPieceLen: Int = 6,
  ): DataFrame = {
    val pieces = pieceCounts(words, maxPieceLen).select("piece", "score")
    val chars = pieces.filter(length(col("piece")) === 1)
    val nChars = chars.count().toInt
    require(nChars < vocabSize,
      s"WordPiece.buildVocab: vocabSize ($vocabSize) must exceed the " +
        s"corpus's distinct character count ($nChars) — single chars are " +
        "forced into the vocabulary for segmentation totality")
    val multi = pieces.filter(length(col("piece")) > 1)
      .orderBy(col("score").desc, col("piece"))
      .limit(vocabSize - nChars)
    chars.unionByName(multi)
  }

  /** Fit: (piece, score) vocabulary of exactly `vocabSize` rows — every
    * single character seen in the corpus (segmentation totality), plus
    * the top multi-char substrings by score = occurrences × length,
    * ties broken lexicographically. Runs two jobs (char count, then the
    * plan) — the usual fit-API shape.
    */
  def buildVocab(
      docs: DataFrame,
      textCol: String,
      vocabSize: Int = 64,
      maxPieceLen: Int = 6,
  ): DataFrame =
    vocabFromWordCounts(wordCounts(docs, textCol), vocabSize, maxPieceLen)

  /** Encode `text` against a frozen piece inventory: greedy longest
    * match per word; a character with no vocabulary entry is emitted as
    * its own piece and counted in `n_unk`. Returns
    * struct(n_words, n_pieces, n_unk, n_piece_chars, seg) where `seg`
    * joins pieces with U+001F inside a word and words with U+001E —
    * the canonical segmentation string the oracle re-derives.
    */
  def encode(text: Column, pieces: Seq[String], maxPieceLen: Int = 6): Column =
    graft.functions.GraftFunctions.wordpieceEncode(text, pieces, maxPieceLen)
}
