"""Open-vocabulary page generator with planted gold.

Every person and organization name is built from syllable tokens that are
unique per entity, so the vocabulary can grow to thousands of distinct
entities without two gold canonicals sharing a match key, and without the
token-sharing org names that make name blocking over-merge. Organizations
get a contained short form (``Tok2 Suffix`` for ``Tok1 Tok2 Suffix``) so the
linker has real merges to find; people appear under their full name only.
Every page also names a stock domain location, which keeps it relevant to
the default domain config.

A page depends only on its index, the vocabulary, the vocabulary seed and
the page seed, so a corpus is the same for the same seeds on any machine.
Pages drawn with different page seeds over one vocabulary seed share their
entities, which is how a delta batch meets a store built from other pages.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

from hinbox_spark.config import DOMAIN_LOCS

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "dr", "gr", "kr", "tr", "st", "sh", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ei"]
_CODAS = ["", "n", "r", "s", "l", "m", "x", "nd", "rt", "sk"]

ORG_SUFFIXES = ("Agency", "Bureau", "Commission", "Committee", "Council",
                "Office", "Service", "Corps", "Union", "Administration")

LOCATIONS = [(c, list(vs)) for c, (_, vs) in DOMAIN_LOCS.items()]

_PERSON_ORG = [
    "{person} criticized the {org} over detention policy.",
    "The {org} confirmed that {person} attended the briefing.",
    "{person} met representatives of the {org} in {loc}.",
]
_PERSON = [
    "{person} said the review would continue at {loc}.",
    "Lawyers for {person} filed a motion near {loc}.",
]
_ORG = [
    "Officials from the {org} visited {loc} last week.",
    "A spokesperson for the {org} declined to comment on {loc} operations.",
]
_FILLER = [
    "The report was released to the public after a lengthy review.",
    "Several documents remain classified, officials said.",
    "No timeline was provided for the next steps.",
]

_EPOCH = datetime(2024, 1, 1)


@dataclass(frozen=True)
class Vocab:
    """Entity vocabulary: ``people`` and ``orgs`` are the pool sizes.

    Base pages draw entities from the first ``base_share`` of each pool;
    pages at index >= ``fresh_from`` draw ``fresh_rate`` of their entities
    from the remainder, so a delta batch carries both entities the store
    already holds and entities it has never seen.
    """

    people: int
    orgs: int
    base_share: float = 1.0
    fresh_from: int = 1 << 62
    fresh_rate: float = 0.0


def _tokens(n: int, seed: int, salt: int) -> list[str]:
    """n distinct capitalized pseudo-words of 2-3 syllables."""
    rng = random.Random(seed * 7919 + salt)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                    for _ in range(rng.choice((2, 2, 3)))) + rng.choice(_CODAS)
        if len(w) >= 5 and w not in seen:
            seen.add(w)
            out.append(w.capitalize())
    return out


def entity_names(vocab: Vocab, seed: int):
    """(people, orgs): people are canonical names; orgs are
    (canonical, short form) pairs. All tokens are distinct across the
    whole vocabulary."""
    toks = _tokens(2 * vocab.people + 2 * vocab.orgs, seed, 1)
    people = [f"{toks[2 * k]} {toks[2 * k + 1]}" for k in range(vocab.people)]
    base = 2 * vocab.people
    orgs = []
    for k in range(vocab.orgs):
        t1, t2 = toks[base + 2 * k], toks[base + 2 * k + 1]
        suffix = ORG_SUFFIXES[k % len(ORG_SUFFIXES)]
        orgs.append((f"{t1} {t2} {suffix}", f"{t2} {suffix}"))
    return people, orgs


def url(i: int) -> str:
    return f"https://wire.example.org/{2024 + i % 2}/{i:07d}.html"


class Generator:
    def __init__(self, vocab: Vocab, seed: int, vocab_seed: int | None = None):
        self.vocab = vocab
        self.seed = seed
        self.people, self.orgs = entity_names(
            vocab, seed if vocab_seed is None else vocab_seed)

    def _pick(self, rng: random.Random, n: int, i: int) -> int:
        v = self.vocab
        n_base = max(1, int(n * v.base_share))
        if i >= v.fresh_from and n_base < n and rng.random() < v.fresh_rate:
            return rng.randrange(n_base, n)
        return rng.randrange(n_base)

    def page(self, i: int) -> tuple[dict, list[tuple[str, str, str, str]]]:
        """One page row and its gold (url, entity_type, surface, canonical)."""
        rng = random.Random(self.seed * 1_000_003 + i)
        u = url(i)
        gold: list[tuple[str, str, str, str]] = []
        paragraphs: list[str] = []
        for _ in range(rng.randint(5, 9)):
            tpl = rng.choice(_PERSON_ORG + _PERSON + _ORG)
            kw = {}
            if "{person}" in tpl:
                name = self.people[self._pick(rng, len(self.people), i)]
                kw["person"] = name
                gold.append((u, "people", name, name))
            if "{org}" in tpl:
                canon, short = self.orgs[self._pick(rng, len(self.orgs), i)]
                surface = short if rng.random() < 0.3 else canon
                kw["org"] = surface
                gold.append((u, "organizations", surface, canon))
            if "{loc}" in tpl:
                canon, variants = rng.choice(LOCATIONS)
                surface = rng.choice(variants)
                kw["loc"] = surface
                gold.append((u, "locations", surface, canon))
            paragraphs.append(tpl.format(**kw))
            if rng.random() < 0.5:
                paragraphs.append(rng.choice(_FILLER))
        # relevance anchor: every page names a stock domain location
        canon, variants = rng.choice(LOCATIONS)
        surface = rng.choice(variants)
        paragraphs.append(f"Detainees were held at {surface} for years.")
        gold.append((u, "locations", surface, canon))
        title = f"Dispatch {i}: detention review"
        html = (
            f"<html><head><title>{title}</title></head><body><h1>{title}</h1>"
            "<article>" + "".join(f"<p>{p}</p>" for p in paragraphs)
            + "</article><footer><p>All rights reserved.</p></footer></body></html>"
        )
        row = {"url": u, "warc_ts": _EPOCH + timedelta(minutes=11 * i),
               "html": html.encode(), "text": "", "lang": "en"}
        return row, gold

    def corpus(self, lo: int, hi: int):
        rows, gold = [], []
        for i in range(lo, hi):
            r, g = self.page(i)
            rows.append(r)
            gold.extend(g)
        return rows, gold
