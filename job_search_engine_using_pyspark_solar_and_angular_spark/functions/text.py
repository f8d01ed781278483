"""Text column functions: tokenizers, normalization, cleaning chains.

Reproduces the capability set of the reference's two analyzer families and its
regex-cleaning chains (SURVEY.md §2.8 T1-T10, N1-N4/N8, R2) as pure
``pyspark.sql.functions`` Column expressions — JVM-side, codegen-friendly,
no Python UDFs anywhere.

Reference parity notes (file:line into /root/reference):
- classic whitespace tokenization ~ Solr ClassicTokenizer configured at
  ``Ranking Model/src/main/java/Utils/SolrFieldType.java:39-45``.
- clean_text chain ~ notebook cell 7 of ``Spark/Word_cloud_evaluation.ipynb``
  (lowercase + non-alphanumeric strip + whitespace collapse).
- twitter timestamp parse ~ ``Spark/Tweets_preprocessing.py:124-128,451-455``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize_ws(col: Column | str) -> Column:
    """Whitespace tokenizer: text -> array<string> (reference N2)."""
    return F.split(F.col(col) if isinstance(col, str) else col, " ")


def normalize_token(tok: Column) -> Column:
    """Lowercase + strip non-alphanumerics from a single token (reference N3)."""
    return F.regexp_replace(F.lower(tok), "[^a-z0-9]", "")


def tokenize_normalized(col: Column | str) -> Column:
    """Tokenize then normalize each token and drop empties.

    This is the canonical analyzer for the search index (SURVEY.md §7.3) and
    the BM25 corpus of Q20: split on single spaces, lowercase, strip
    non-alphanumerics, remove empty tokens. Stays entirely in Catalyst via
    ``transform``/``filter`` higher-order functions.
    """
    toks = F.transform(tokenize_ws(col), normalize_token)
    return F.filter(toks, lambda t: t != F.lit(""))


def clean_text(col: Column | str) -> Column:
    """Aggressive clean chain (Q06 / notebook cell 7 analog):
    lower -> strip non [a-z0-9 ] -> collapse spaces -> trim."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def normalize_apostrophes(col: Column | str) -> Column:
    """Unicode right-single-quote -> ASCII apostrophe (reference T5,
    ``Tweets_preprocessing.py:477``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "[’]", "'")


def parse_twitter_timestamp(col: Column | str) -> Column:
    """Parse Twitter's ``EEE MMM dd HH:mm:ss +0000 yyyy`` format the way the
    reference does (T1-T3,T11 at ``Tweets_preprocessing.py:124-128``):
    strip weekday, strip tz offset, to_timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    no_weekday = F.ltrim(F.regexp_extract(c, r"(\ \w+.+)", 1))
    no_tz = F.regexp_replace(no_weekday, r"(\+\d+\ )", "")
    return F.to_timestamp(no_tz, "MMM dd HH:mm:ss yyyy")


def csv_safe(col: Column | str) -> Column:
    """Newline->'|', doublequote->singlequote scrub for CSV export parity
    (reference T6, ``Tweets_preprocessing.py:502-503``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, "\n", "|"), '"', "'")

