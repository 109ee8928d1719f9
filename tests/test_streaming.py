"""Structured Streaming: stream output == batch output (availableNow)."""

from ner_pytorch_spark import datagen
from ner_pytorch_spark.operators.spans import mentions_table
from ner_pytorch_spark.operators.tagger import sentences_table, tag_sentences
from ner_pytorch_spark.streaming.pages_stream import (mentions_stream,
                                                      read_pages_stream,
                                                      run_to_sink)


def test_stream_matches_batch(spark, tmp_path):
    pages = datagen.pages_dataframe(spark, 40)
    src = str(tmp_path / "pages_in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()

    stream = read_pages_stream(spark, src)
    out_path = str(tmp_path / "mentions_out")
    q = run_to_sink(mentions_stream(stream, aliases), out_path,
                    str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    batch = mentions_table(tag_sentences(
        sentences_table(spark.read.parquet(src)), mode="gazetteer",
        aliases=aliases))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_triples_stream_matches_batch(spark, tmp_path):
    """Streaming KG construction (fused path on readStream + predicate
    lookup) produces exactly the batch triples."""
    from ner_pytorch_spark.operators.tagger import fused_triples, pages_to_mention_pairs
    from ner_pytorch_spark.streaming.pages_stream import triples_stream

    pages = datagen.pages_dataframe(spark, 40)
    src = str(tmp_path / "pages_in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()
    lex = datagen.PREDICATE_LEXICON

    stream = read_pages_stream(spark, src)
    out_path = str(tmp_path / "triples_out")
    q = run_to_sink(triples_stream(stream, aliases, lex), out_path,
                    str(tmp_path / "ckpt_t"))
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    batch = fused_triples(
        pages_to_mention_pairs(spark.read.parquet(src), aliases), lex)
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) > 0


def test_windowed_mention_counts(spark, tmp_path):
    """Watermarked event-time aggregate runs and matches a batch count."""
    from pyspark.sql import functions as F

    from ner_pytorch_spark.streaming.pages_stream import (
        read_pages_stream, windowed_mention_counts)

    pages = datagen.pages_dataframe(spark, 30)
    src = str(tmp_path / "in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()

    stream = read_pages_stream(spark, src)
    # complete mode (memory sink): append would rightly hold back the
    # final windows still inside the watermark
    q = (windowed_mention_counts(stream, aliases, window="1 day")
         .writeStream.format("memory").queryName("wmc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("select sum(n_mentions) from wmc").first()[0]
    batch_mentions = mentions_table(tag_sentences(
        sentences_table(pages), mode="gazetteer", aliases=aliases)).count()
    assert got == batch_mentions


def test_windowed_mention_counts_match_batch_tokenization(spark):
    """The windowed counter tokenizes like sentences_table (JVM \\s+):
    U+00A0 and the ASCII separators \\x1c-\\x1f are NOT whitespace, so
    'Alice\\u00a0Johnson' and 'Garcia\\x1cRossi' are one unmatched token
    each on both paths."""
    import datetime

    from pyspark.sql import functions as F

    from ner_pytorch_spark.streaming.pages_stream import (
        windowed_mention_counts)

    ts = datetime.datetime(2024, 1, 1, 12)
    pages = spark.createDataFrame(
        [("https://ex.org/a", ts, bytearray(b""),
          "Alice\u00a0Johnson met Robert Smith in Paris .\nAcme Corp hired"
          " Wonka\u00a0Foods staff .", "en"),
         ("https://ex.org/b", ts, bytearray(b""),
          "Garcia\x1cRossi praised Chen Wei .\nHooli\x1fGlobex left Oslo .",
          "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    aliases = datagen.alias_rows()

    got = {r.tag_type: r.n for r in windowed_mention_counts(
        pages, aliases, window="1 day")
        .groupBy("tag_type").agg(F.sum("n_mentions").alias("n")).collect()}
    want = {r.tag_type: r.n for r in mentions_table(tag_sentences(
        sentences_table(pages), mode="gazetteer", aliases=aliases))
        .groupBy("tag_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
    assert want == {"PER": 2, "LOC": 2, "ORG": 1}
