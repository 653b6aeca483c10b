"""Text-analysis functions for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All built-in Catalyst expressions except the n-gram language profile
scorer (Arrow pandas_udf). These extend the engine beyond the reference's
operator set per the large-scale-training-pipeline requirement.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# tiny deterministic per-language character-trigram profiles for the
# heuristic language scorer (public-knowledge trigram frequencies idea;
# profiles here are purely illustrative, built from function words)
_LANG_PROFILES = {
    "en": ["the", "and", "ing", "ion", "ent"],
    "es": ["que", "los", "ión", "nte", "ado"],
    "fr": ["les", "ent", "ion", "que", "ait"],
    "de": ["der", "und", "ein", "sch", "ich"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/null)."""
    t = F.trim(col)
    return F.when(
        F.coalesce(F.length(t), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    """Regex sub-word token count (~BPE granularity): splits on word
    boundaries, digits, and punctuation runs."""
    t = F.lower(F.trim(col))
    pieces = F.regexp_extract_all(t, F.lit(r"[a-z]{1,6}|\d|[^\sa-z\d]"), 0)
    return F.coalesce(F.size(pieces), F.lit(0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    toks = F.split(F.trim(col), r"\s+")
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: length band + word-length band
    + low punctuation (the usual pretraining-corpus filters)."""
    n_tok = token_count(col)
    wl = mean_word_len(col)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), 0.4).otherwise(0.0)
    wl_ok = F.when((wl >= 2.0) & (wl <= 12.0), 0.3).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) <= 0.2, 0.3).otherwise(0.0)
    return len_ok + wl_ok + punct_ok


def doc_fingerprint(col: Column) -> Column:
    """Exact content fingerprint: md5 of the raw text (hex string)."""
    return F.md5(col)


def lang_id_udf():
    """pandas_udf returning the best-matching language code by trigram
    profile hit-rate, or 'und' when nothing matches."""
    langs = sorted(_LANG_PROFILES)

    # flat (gram -> lang index) table so the batch scores with vectorized
    # pd.Series.str.count per gram (one pass over the whole Arrow batch
    # per profile gram, no per-row Python loop)
    import re

    flat = [
        (re.escape(g), i) for i, lang in enumerate(langs) for g in _LANG_PROFILES[lang]
    ]

    @F.pandas_udf(T.StringType())
    def _lang(texts: pd.Series) -> pd.Series:
        tl = texts.fillna("").str.lower()
        scores = np.zeros((len(tl), len(langs)), dtype=np.int64)
        for gram, li in flat:
            scores[:, li] += tl.str.count(gram, flags=0).to_numpy(dtype=np.int64)
        best = scores.argmax(axis=1)
        hit = scores.max(axis=1) > 0
        out = pd.Series(np.where(hit, np.array(langs, dtype=object)[best], "und"))
        return out

    return _lang
