"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, a different seed gives different rows. The dedup and lookup
generators are plain Python; the linkage generator is the engine's own
``sources.transcripts.synth_transcripts`` (numpy, seeded).
"""

from __future__ import annotations

import random
import string

LETTERS = string.ascii_lowercase

#: lookup: dictionary size, queries per batch and batches per run
LOOKUP_DICT_TERMS = 100_000
LOOKUP_BATCH = 250
LOOKUP_BATCHES = 4
LOOKUP_MAX_EDITS = 2

#: dedup: families of planted near-duplicates and their document length
DEDUP_FAMILIES = 2_000
DEDUP_VOCAB = 20_000
DEDUP_WORDS = (20, 40)

#: linkage: seeded transcript turns (half are edited copies of earlier ones)
LINKAGE_TURNS = 800


def _pseudo_word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(LETTERS) for _ in range(rng.randint(lo, hi)))


def _distinct_words(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = _pseudo_word(rng, lo, hi)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _word_not_in(rng: random.Random, vocab: list[str], words: list[str]) -> str:
    while True:
        w = rng.choice(vocab)
        if w not in words:
            return w


def random_edit(rng: random.Random, s: str) -> str:
    """One standard-Levenshtein edit: delete, insert or substitute."""
    kind = rng.randrange(3) if s else 1
    if kind == 1:
        i = rng.randrange(len(s) + 1)
        return s[:i] + rng.choice(LETTERS) + s[i:]
    i = rng.randrange(len(s))
    if kind == 0:
        return s[:i] + s[i + 1:]
    return s[:i] + rng.choice(LETTERS.replace(s[i], "")) + s[i + 1:]


def lookup_inputs(seed: int, n_terms: int = LOOKUP_DICT_TERMS,
                  n_batches: int = LOOKUP_BATCHES,
                  batch_size: int = LOOKUP_BATCH):
    """An unskewed pseudo-word dictionary and batches of planted queries.

    Dictionary: ``n_terms`` distinct words, letters and lengths (5..12)
    uniform. Queries: a uniformly drawn dictionary word with 0..2 random
    edits. Returns ``(terms, batches)`` with ``terms`` a list of
    ``(term_id, term)`` and each batch a list of
    ``(q_id, q_text, src_term_id)``; q_ids are unique across batches.
    """
    rng = random.Random(f"lookup:{seed}")
    words = _distinct_words(rng, n_terms, 5, 12)
    terms = [(i, w) for i, w in enumerate(words)]
    batches = []
    q_id = 0
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_size):
            src = rng.randrange(n_terms)
            q = words[src]
            for _ in range(rng.randint(0, LOOKUP_MAX_EDITS)):
                q = random_edit(rng, q)
            batch.append((q_id, q, src))
            q_id += 1
        batches.append(batch)
    return terms, batches


def dedup_inputs(seed: int, n_families: int = DEDUP_FAMILIES):
    """A document corpus with planted near-duplicate families.

    Each family is a base document of 20..40 distinct vocabulary words
    plus 0..7 copies, each the base with at most one word replaced,
    dropped or added (token Jaccard >= 19/21 > 0.9 to the base, so every
    copy links to its base). Distinct families share almost no words.
    Doc ids are shuffled so families are not contiguous.

    Returns ``(docs, survivors)``: ``docs`` a list of ``(doc_id, text)``;
    ``survivors`` maps each family's minimum doc id to its family size - 1
    (the ``n_removed`` the dedup pipeline must report).
    """
    rng = random.Random(f"dedup:{seed}")
    vocab = _distinct_words(rng, DEDUP_VOCAB, 4, 9)
    families: list[list[list[str]]] = []
    for _ in range(n_families):
        base = rng.sample(vocab, rng.randint(*DEDUP_WORDS))
        fam = [base]
        n_copies = 0 if rng.random() < 0.4 else rng.randint(1, 7)
        for _ in range(n_copies):
            copy = list(base)
            kind = rng.randrange(4)
            if kind == 1:      # replace one word
                copy[rng.randrange(len(copy))] = _word_not_in(rng, vocab, base)
            elif kind == 2:    # drop one word
                del copy[rng.randrange(len(copy))]
            elif kind == 3:    # add one word
                copy.append(_word_not_in(rng, vocab, base))
            rng.shuffle(copy)
            fam.append(copy)
        families.append(fam)
    n_docs = sum(len(f) for f in families)
    ids = list(range(n_docs))
    rng.shuffle(ids)
    docs: list[tuple[int, str]] = []
    survivors: dict[int, int] = {}
    it = iter(ids)
    for fam in families:
        fam_ids = [next(it) for _ in fam]
        docs.extend((i, " ".join(words)) for i, words in zip(fam_ids, fam))
        survivors[min(fam_ids)] = len(fam) - 1
    docs.sort()
    return docs, survivors


def linkage_inputs(spark, seed: int, n_turns: int = LINKAGE_TURNS):
    """Seeded transcripts and their entity truth as Spark DataFrames.

    Uses the engine's ``synth_transcripts``: half the turns are copies of
    earlier turns with 0..2 edits, and the bases share 22 utterance
    templates, so blocking keys are hot."""
    from liblevenshtein_rust_spark.sources.transcripts import synth_transcripts
    return synth_transcripts(spark, n_turns, seed=seed)
