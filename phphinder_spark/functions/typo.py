"""Typo-tolerance policy: allowed Levenshtein distance by term length
(reference: src/Utils/TypoTolerance.php:23-38 — len>=9 => 2, len>=5 => 1,
else 0). The reference over-generates candidates with a state-set automaton
then refilters by true Levenshtein; the engine goes straight to a
length-banded dictionary prefilter + exact Levenshtein (a banded DP over
the driver dictionary, or the n-gram probe's ``F.levenshtein`` verify) —
same final semantics, no automaton needed (SURVEY.md §2.9 Q5).
"""

from __future__ import annotations


def levenshtein_distance_for_term(term: str) -> int:
    n = len(term)
    if n >= 9:
        return 2
    if n >= 5:
        return 1
    return 0
