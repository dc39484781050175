"""Extraction operator: batch and stream readers vs the pandas oracle."""

import pandas as pd

from ckg_spark.operators import extract as X
from ckg_spark.oracle_ref import oracle_extract

KEY = ["conv_id", "turn_idx", "pos", "n_words", "alias_lc"]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf[KEY].sort_values(KEY).reset_index(drop=True)


def test_jvm_extract_matches_oracle(spark, vocab, vocab_tables, transcripts_df,
                                    transcripts_pdf):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    got = X.extract_mentions(transcripts_df, grams).toPandas()
    exp = oracle_extract(transcripts_pdf, vocab)
    assert len(exp) > 100, "fixture should embed plenty of mentions"
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp), check_dtype=False)


def test_longest_match_resolution(spark, vocab, vocab_tables, transcripts_df,
                                  transcripts_pdf):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    m = X.extract_mentions(transcripts_df, grams)
    got = X.resolve_longest_match(m).toPandas()
    exp = oracle_extract(transcripts_pdf, vocab, longest_match=True)
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp), check_dtype=False)


def test_case_and_punctuation_insensitive(spark, vocab_tables):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    some = grams.limit(1).collect()[0]["gram"]
    df = spark.createDataFrame(
        [("c1", 0, f"We saw {some.upper()}, yesterday."),
         ("c1", 1, f"no mention here"),
         ("c1", 2, f"({some.title()})")],
        "conv_id string, turn_idx int, text string",
    )
    got = X.extract_mentions(df, grams).toPandas()
    assert set(got["turn_idx"]) == {0, 2}
    # the chosen alias matches in both turns (sub-aliases may also match in
    # match_all mode — that is the intended 1:N behavior)
    assert set(got.loc[got["alias_lc"] == some, "turn_idx"]) == {0, 2}


def test_stream_extract_matches_oracle(spark, vocab, vocab_tables,
                                       transcripts_pdf, tmp_path):
    """A stream takes the windowless follower reader; it must match the
    oracle exactly as the batch (lead window) reader does."""
    from ckg_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    transcripts_pdf.to_parquet(in_dir / "part0.parquet", index=False)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(str(in_dir))
    assert stream.isStreaming
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    q = (X.extract_mentions(stream, grams).writeStream.format("memory")
         .queryName("stream_mentions").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("stream_mentions").toPandas()
    exp = oracle_extract(transcripts_pdf, vocab)
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp), check_dtype=False)


def test_batch_plan_has_one_exchange_and_two_broadcast_joins(spark, vocab_tables,
                                                             transcripts_df):
    """The lead window's hash Exchange is the only shuffle; the first-token
    flags and the alias set are the two broadcast joins."""
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    m = X.extract_mentions(transcripts_df, grams)
    m.collect()
    # the adaptive plan's final form (its toString repeats the initial plan)
    plan = m._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
