"""The entry contract, checked without a Spark session: every
`queries()` entry has a DuckDB oracle in `oracle_sql()` and vice versa
(tools/check_oracle.py runs them; this only checks the key sets)."""

import __spark_entry__ as entry

REMOVED = {"media_stats", "media_decode_shape", "media_decode_jpeg",
           "media_decode_gif", "image_semdedup", "image_neardup",
           "audio_stats", "audio_adpcm", "audio_flac"}


def test_every_query_has_an_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())


def test_media_codec_entries_are_gone():
    assert not REMOVED & set(entry.queries())
    assert not REMOVED & set(entry.oracle_sql())
