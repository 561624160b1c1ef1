"""Stemmers and term normalizers for the analyzer filter chain.

Pure-Python implementations of the public algorithms behind the
reference's filter enum (ZuliaFieldAnalyzer.java:51-160):

- ``english_minimal_stem`` — Lucene EnglishMinimalStemFilter's
  S-stemmer (Harman 1991, "How effective is suffixing?"), plural-only.
- ``porter2_stem`` — the Snowball English ("Porter2") stemmer from the
  published specification (snowballstem.org/algorithms/english/stemmer
  .html), used for SNOWBALL_STEM. (KSTEM is the Krovetz
  dictionary-driven stemmer in the sibling module
  ``analysis/kstem.py``.)
- ``german_normalize`` — Lucene GermanNormalizationFilter's automaton
  (snowball German2 variant): folds ä/ö/ü, ß→ss, and collapses
  ae/oe/ue to a/o/u except after q or another vowel.
- ``english_possessive`` — EnglishPossessiveFilter: strips trailing
  's for ASCII, right-quote and fullwidth apostrophes.

All operate per TERM and are applied to the token DICTIONARY
(O(distinct terms), never O(tokens)).
"""

from __future__ import annotations

from functools import lru_cache

_VOWELS = frozenset("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_ENDING = frozenset("cdeghkmnrt")

_STEP2 = [
    ("ization", "ize"),
    ("ational", "ate"),
    ("ousness", "ous"),
    ("iveness", "ive"),
    ("fulness", "ful"),
    ("tional", "tion"),
    ("lessli", "less"),
    ("biliti", "ble"),
    ("entli", "ent"),
    ("ation", "ate"),
    ("alism", "al"),
    ("aliti", "al"),
    ("ousli", "ous"),
    ("iviti", "ive"),
    ("fulli", "ful"),
    ("enci", "ence"),
    ("anci", "ance"),
    ("abli", "able"),
    ("izer", "ize"),
    ("ator", "ate"),
    ("alli", "al"),
    ("bli", "ble"),
    ("ogi", "og"),  # only when preceded by l
    ("li", ""),  # only after a valid li-ending
]

_STEP3 = [
    ("ational", "ate"),
    ("tional", "tion"),
    ("alize", "al"),
    ("icate", "ic"),
    ("iciti", "ic"),
    ("ative", ""),  # only when in R2
    ("ical", "ic"),
    ("ness", ""),
    ("ful", ""),
]

_STEP4 = [
    "ement", "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
    "ion",  # only when preceded by s or t
    "al", "er", "ic",
]

_EXCEPTIONS = {
    "skis": "ski",
    "skies": "sky",
    "dying": "die",
    "lying": "lie",
    "tying": "tie",
    "idly": "idl",
    "gently": "gentl",
    "ugly": "ugli",
    "early": "earli",
    "only": "onli",
    "singly": "singl",
    # invariant forms
    "sky": "sky",
    "news": "news",
    "howe": "howe",
    "atlas": "atlas",
    "cosmos": "cosmos",
    "bias": "bias",
    "andes": "andes",
}

_EXCEPTIONS_POST_1A = frozenset(
    ("inning", "outing", "canning", "herring", "earring", "proceed", "exceed", "succeed")
)


def _regions(word: str) -> tuple[int, int]:
    """(r1, r2) start offsets per the spec, with the gener-/commun-/
    arsen- prefix special case."""
    r1 = len(word)
    for pre in ("gener", "commun", "arsen"):
        if word.startswith(pre):
            r1 = len(pre)
            break
    else:
        for i in range(1, len(word)):
            if not _is_v(word, i) and _is_v(word, i - 1):
                r1 = i + 1
                break
    r2 = len(word)
    for i in range(r1 + 1, len(word)):
        if not _is_v(word, i) and _is_v(word, i - 1):
            r2 = i + 1
            break
    return r1, r2


def _is_v(word: str, i: int) -> bool:
    return word[i] in "aeiouy"  # 'Y' (marked consonant) excluded


def _short_syllable_at(word: str, i: int) -> bool:
    """Ends-at-i short syllable test: vowel at i followed by non-vowel
    other than w/x/Y and preceded by non-vowel; or a word-initial
    vowel followed by a non-vowel."""
    if i < 0 or i + 1 >= len(word):
        return False
    if not _is_v(word, i) or _is_v(word, i + 1):
        return False
    if word[i + 1] in "wxY":
        return False
    if i == 0:
        return True
    return not _is_v(word, i - 1)


def _is_short(word: str, r1: int) -> bool:
    return r1 >= len(word) and _short_syllable_at(word, len(word) - 2)


@lru_cache(maxsize=65536)
def porter2_stem(word: str) -> str:
    """Snowball English (Porter2) stemmer, per the published spec."""
    if len(word) <= 2 or not word.isascii() or not word.isalpha():
        # non-alphabetic / non-ascii terms pass through, like Lucene's
        # SnowballFilter leaves non-matching tokens unchanged
        if word in _EXCEPTIONS:
            return _EXCEPTIONS[word]
        return word
    if word in _EXCEPTIONS:
        return _EXCEPTIONS[word]
    w = word
    if w.startswith("'"):
        w = w[1:]
    # mark consonant-y as Y
    if w.startswith("y"):
        w = "Y" + w[1:]
    w = "".join(
        "Y" if c == "y" and i > 0 and _is_v(w, i - 1) else c for i, c in enumerate(w)
    )
    r1, r2 = _regions(w)

    # step 0: apostrophe suffixes
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ied") or w.endswith("ies"):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith("us") or w.endswith("ss"):
        pass
    elif w.endswith("s"):
        if any(_is_v(w, i) for i in range(len(w) - 2)):
            w = w[:-1]

    if w in _EXCEPTIONS_POST_1A:
        return w.lower()

    # step 1b
    if w.endswith("eedly"):
        if len(w) - 5 >= r1:
            w = w[:-3]
    elif w.endswith("eed"):
        if len(w) - 3 >= r1:
            w = w[:-1]
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if any(_is_v(stem, i) for i in range(len(stem))):
                    w = stem
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w.endswith(_DOUBLES):
                        w = w[:-1]
                    elif _is_short(w, r1):
                        w += "e"
                break

    # step 1c: y/Y → i after a non-vowel that is not word-initial
    if len(w) > 2 and w[-1] in "yY" and not _is_v(w, len(w) - 2):
        w = w[:-1] + "i"

    # step 2 (longest matching suffix; act only if in R1)
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ogi":
                    if w.endswith("logi"):
                        w = w[:-1]
                elif suf == "li":
                    if len(w) > 2 and w[-3] in _LI_ENDING:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ative":
                    if len(w) - 5 >= r2:
                        w = w[:-5]
                else:
                    w = w[: -len(suf)] + rep
            break

    # step 4 (in R2)
    for suf in _STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                if suf == "ion":
                    if len(w) > 3 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # step 5
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (
            len(w) - 1 >= r1 and not _short_syllable_at(w, len(w) - 3)
        ):
            w = w[:-1]
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) > 1 and w[-2] == "l":
        w = w[:-1]

    return w.lower()


def english_minimal_stem(word: str) -> str:
    """Lucene EnglishMinimalStemmer (Harman S-stemmer): plural-only."""
    n = len(word)
    if n < 3 or word[-1] != "s":
        return word
    c = word[-2]
    if c in ("u", "s"):
        return word
    if c == "e":
        if n > 3 and word[-3] == "i" and word[-4] not in ("a", "e"):
            return word[:-3] + "y"
        if word[-3] in ("i", "a", "o", "e"):
            return word
    return word[:-1]


def english_possessive(word: str) -> str:
    """Lucene EnglishPossessiveFilter: strip trailing 's (ASCII ',
    right single quote \\u2019, fullwidth \\uFF07)."""
    if len(word) >= 2 and word[-1] in ("s", "S") and word[-2] in ("'", "’", "＇"):
        return word[:-2]
    return word


def german_normalize(word: str) -> str:
    """Lucene GermanNormalizationFilter automaton: ä→a, ö→o, ü→u,
    ß→ss; 'e' deleted after a/o (ae→a, oe→o) and after 'u' when the
    'u' did not itself follow a vowel or q (ue→u except que/aue/…)."""
    N, V, U = 0, 1, 2
    state = N
    out: list[str] = []
    for c in word:
        if c in ("a", "o"):
            out.append(c)
            state = U
        elif c == "u":
            out.append(c)
            state = U if state == N else V
        elif c == "e":
            if state == U:
                state = V
                continue  # delete the e
            out.append(c)
            state = V
        elif c in ("i", "q", "y"):
            out.append(c)
            state = V
        elif c == "ä":
            out.append("a")
            state = V
        elif c == "ö":
            out.append("o")
            state = V
        elif c == "ü":
            out.append("u")
            state = V
        elif c == "ß":
            out.append("ss")
            state = N
        else:
            out.append(c)
            state = N
    return "".join(out)


# Representative UK→US spelling map (BritishUSFilter.java loads a
# ~2000-entry british.txt resource; the MECHANISM is identical — a
# dictionary-level term map — with a built-in common subset here,
# extensible via AnalyzerSettings.british_us_extra if a deployment
# ships the full list).
BRITISH_US_MAP = {
    "colour": "color", "colours": "colors", "flavour": "flavor",
    "flavours": "flavors", "behaviour": "behavior", "behaviours": "behaviors",
    "honour": "honor", "labour": "labor", "neighbour": "neighbor",
    "neighbours": "neighbors", "rumour": "rumor", "humour": "humor",
    "analyse": "analyze", "analysed": "analyzed", "analyses": "analyzes",
    "analysing": "analyzing", "organise": "organize", "organised": "organized",
    "organisation": "organization", "organisations": "organizations",
    "recognise": "recognize", "recognised": "recognized",
    "realise": "realize", "realised": "realized", "realising": "realizing",
    "centre": "center", "centres": "centers", "theatre": "theater",
    "theatres": "theaters", "metre": "meter", "metres": "meters",
    "litre": "liter", "litres": "liters", "fibre": "fiber",
    "defence": "defense", "offence": "offense", "licence": "license",
    "pretence": "pretense", "practise": "practice", "catalogue": "catalog",
    "catalogues": "catalogs", "dialogue": "dialog", "dialogues": "dialogs",
    "programme": "program", "programmes": "programs",
    "travelling": "traveling", "travelled": "traveled",
    "modelling": "modeling", "modelled": "modeled",
    "cancelled": "canceled", "cancelling": "canceling",
    "grey": "gray", "tyre": "tire", "tyres": "tires",
    "aluminium": "aluminum", "aeroplane": "airplane",
    "paediatric": "pediatric", "anaemia": "anemia",
    "encyclopaedia": "encyclopedia", "oestrogen": "estrogen",
}

# CaseProtectedWordsFilter.java builds a keyword-marker set containing
# "AIDS": terms in this set are protected from the stemmer filters.
CASE_PROTECTED_WORDS = frozenset(("AIDS",))
