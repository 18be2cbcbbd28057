"""Per-turn orchestration shared by the oracle and the fused Spark stage.

One module owns the turn → sentences → tokens → mentions → links → triples
sequence so the sequential oracle (tests/oracle.py) and the distributed fused
extractors (operators/fused.py) cannot drift apart: both call
``extract_turn_triples`` (and the links kernel ``sentence_mentions``) and
differ only in how turns are iterated (driver loop vs Arrow-batched
partitions).

``nel_mode`` selects the mention detector: ``'merged'`` (NER analog +
common-noun merge, nel.py — the main path) or ``'ner_only'`` (the
reference's ner_nel.py alternative: named entities only, adjacent spans
fused, ``ner_nel.py:31-44``, ``:139-142``).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from relationextractionpipeline_spark.functions import lexicon as lx
from relationextractionpipeline_spark.functions import rules

# Per-worker sentence-triples memo.  Sentence→triples is a pure function of
# the sentence text given fixed (kb, kb_index, figer); corpora repeat
# sentences heavily (25% exact-duplicate sentences at bench scale here;
# boilerplate does the same to web text), so one parse/extract per DISTINCT
# sentence per worker saves that fraction of the whole extract stage.  The
# cache is pinned to the broadcast dicts by identity (strong refs kept so
# ids can't be recycled — same pattern as rules._GAZ_FIRST_CACHE) and is
# cleared wholesale when full: an O(1)-bookkeeping bound, no LRU overhead
# on the hot path.
_SENT_CACHE_MAX = 50_000
_SENT_CACHE: dict = {"pins": None, "map": {}, "lookups": 0, "hits": 0,
                     "evictions": 0}


def cache_counters() -> Tuple[int, int, int]:
    """(lookups, hits, evictions) for this worker — snapshot for the
    accumulator-based observability in operators/fused.py."""
    return (
        _SENT_CACHE["lookups"],
        _SENT_CACHE["hits"],
        _SENT_CACHE["evictions"],
    )


def sentence_mentions(
    sent: str,
    kb_index: Dict[Tuple[str, ...], str],
    nel_mode: str = "merged",
) -> Tuple[lx.Sent, List[dict]]:
    """(tokens, unlinked mentions) of one sentence under ``nel_mode``."""
    tokens = lx.parse_sentence_soa(sent)  # hot path: no per-token dicts
    ner_only = nel_mode == "ner_only"
    return tokens, rules.detect_mentions(
        tokens, kb_index, include_common=not ner_only, fuse_adjacent=ner_only
    )


def _sentence_triples(
    sent: str,
    kb: Dict[str, Tuple[str, float]],
    kb_index: Dict[Tuple[str, ...], str],
    figer: Dict[str, str],
    render: bool,
    nel_mode: str,
) -> List[dict]:
    pins = _SENT_CACHE["pins"]
    if (
        pins is None
        or pins[0] is not kb
        or pins[1] is not kb_index
        or pins[2] is not figer
    ):
        _SENT_CACHE["pins"] = (kb, kb_index, figer)
        _SENT_CACHE["map"] = {}
    m = _SENT_CACHE["map"]
    _SENT_CACHE["lookups"] += 1
    # rendered/unrendered entries differ in shape; nel_mode in mentions
    key = (render, nel_mode, sent)
    got = m.get(key)
    if got is None:
        tokens, mentions = sentence_mentions(sent, kb_index, nel_mode)
        for mm in mentions:
            url, fg = rules.link_mention(str(mm["surface"]), kb, figer)
            mm["url"] = url
            mm["figer"] = fg
        got = rules.extract_relations(tokens, mentions, render=render)
        if len(m) >= _SENT_CACHE_MAX:
            m.clear()
            _SENT_CACHE["evictions"] += 1
        m[key] = got
    else:
        _SENT_CACHE["hits"] += 1
    return got


def extract_turn_triples(
    text: Optional[str],
    kb: Dict[str, Tuple[str, float]],
    kb_index: Dict[Tuple[str, ...], str],
    figer: Dict[str, str],
    render: bool = True,
    nel_mode: str = "merged",
) -> List[dict]:
    """All triples for one turn's text; ``sent_idx`` counts sentences within
    the turn (the reference's per-file sentence numbering, nel.py:259-264,
    rekeyed per turn).  ``render=False`` skips the Python ``rel``/
    ``rel_human`` string rendering (the fused Spark path renders them
    natively instead — see rules.extract_relations)."""
    out: List[dict] = []
    sent_idx = 0
    for line_idx, sent in rules.segment_text_with_lines(text or ""):
        for trip in _sentence_triples(
            sent, kb, kb_index, figer, render, nel_mode
        ):
            out.append({"sent_idx": sent_idx, "line_idx": line_idx, **trip})
        sent_idx += 1
    return out
