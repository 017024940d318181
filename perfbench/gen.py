"""Seeded input generators and the pure-Python goldens they imply.

Everything here is a function of ``(seed, ...)`` only: the same seed gives
byte-identical inputs, and a different seed gives different ones. The
program under test receives only what these functions generate.

This module is also imported by Spark's Python workers (the fetcher runs
inside the fetch UDF), so it depends on the standard library alone.
"""

from __future__ import annotations

import functools
import hashlib
import random
import re

# The 17-column pets table (schema.PETS_FIELDS order), restated here so the
# workers never import the package just to render a page.
STRING_FIELDS = ["name", "location", "age", "gender", "size", "color", "breed"]
BOOL_FIELDS = [
    "spayed_neutered",
    "vaccinated",
    "special_needs",
    "kids_compatible",
    "dogs_compatible",
    "cats_compatible",
]
TEXT_FIELDS = ["about_me", "image"]
# Fields the validity and liveness rules count (all but link and pet_type).
CHECKED_STRINGS = STRING_FIELDS + TEXT_FIELDS

# CSS-style selectors for operators.extraction.html_first_text_columns.
SELECTORS = {
    "name": "div.pet-profile h1.pet-name",
    "location": "div.facts p.location",
    "age": "div.facts p.age",
    "gender": "div.facts p.gender",
    "size": "div.facts p.size",
    "color": "div.facts p.color",
    "breed": "div.facts p.breed",
    "spayed_neutered": "ul.flags li.spayed",
    "vaccinated": "ul.flags li.vaccinated",
    "special_needs": "ul.flags li.special",
    "kids_compatible": "ul.flags li.kids",
    "dogs_compatible": "ul.flags li.dogs",
    "cats_compatible": "ul.flags li.cats",
    "about_me": "div.about",
    "image": "span.image",
}
_BOOL_CLASS = dict(zip(BOOL_FIELDS, ["spayed", "vaccinated", "special", "kids", "dogs", "cats"]))

# Page classes: exact shares in every block of 100 consecutive keys, in a
# seeded order, so every batch sees the same mix (see README.md).
FETCH_FAIL_SHARE = 0.08
PLACEHOLDER_SHARE = 0.05
SPARSE_SHARE = 0.08  # 9-12 of 15 fields missing: dropped by the null-ratio rule
PARTIAL_SHARE = 0.30  # 1-2 missing: kept and stays live
FRAIL_SHARE = 0.04  # 3-5 missing: kept at ingest, dead at the first re-verify
DEAD_SHARE = 0.03  # per re-verify round and key (seeded hash): links that went away

# Each search page's 12 slots: 2 empty, 3 links already committed (the O1
# rule skips them), 7 new links, in a seeded order; on every 4th page one
# new link repeats a link seen earlier in the batch.
SLOT_KINDS = ("empty",) * 2 + ("known",) * 3 + ("new",) * 7
REPEAT_EVERY_PAGES = 4

BASE_URL = "https://www.petfinder.com"
_WORDS = (
    "friendly playful calm loves walks treats gentle kids cats dogs quiet "
    "house trained leash energetic senior young cuddles fetch yard "
    "patient shy curious loyal & smart"
).split()
_LOCATIONS = ["Austin, TX", "Denver, CO", "Boise, ID", "Salem, OR", "Tulsa, OK", "Reno, NV"]
_AGES = ["Baby", "Young", "Adult", "Senior"]
_SIZES = ["Small", "Medium", "Large", "Extra Large"]
_COLORS = ["Black", "White", "Brown", "Golden", "Gray", "Tricolor"]
_BREEDS = ["Labrador", "Beagle", "Tabby", "Siamese", "Poodle", "Mixed Breed"]
_NAMES = ["Fido", "Luna", "Max", "Bella", "Charlie", "Milo", "Daisy", "Rocky", "Nala", "Ollie"]


def unit(*parts) -> float:
    """A uniform draw in [0, 1) fixed by ``parts`` alone (process- and
    platform-independent, unlike ``hash``)."""
    digest = hashlib.blake2b(":".join(map(str, parts)).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big") / 2.0**64


def pet_link(key: int) -> str:
    return f"{BASE_URL}/pet/{key}/details/"


def link_key(url: str) -> int:
    m = re.search(r"/pet/(\d+)/", url)
    if m is None:
        raise ValueError(f"not a pet link: {url}")
    return int(m.group(1))


_KIND_SHARES = (
    ("fail", FETCH_FAIL_SHARE),
    ("placeholder", PLACEHOLDER_SHARE),
    ("sparse", SPARSE_SHARE),
    ("partial", PARTIAL_SHARE),
    ("frail", FRAIL_SHARE),
)


@functools.lru_cache(maxsize=256)
def _kind_block(seed: int, block: int) -> tuple[str, ...]:
    kinds = [k for k, share in _KIND_SHARES for _ in range(round(100 * share))]
    kinds += ["full"] * (100 - len(kinds))
    random.Random(f"{seed}:kinds:{block}").shuffle(kinds)
    return tuple(kinds)


def pet_kind(seed: int, key: int) -> str:
    """The page class a key's fetch returns: one of fail, placeholder,
    sparse, partial, frail, full. Every run of 100 consecutive keys holds
    each class at exactly its share, in a seeded order."""
    return _kind_block(seed, key // 100)[key % 100]


def pet_record(seed: int, key: int, pet_type: str = "dog") -> dict:
    """The cleaned 17-field row a correct pipeline commits for ``key``
    (strings '' when missing, booleans None when missing)."""
    rng = random.Random(f"{seed}:pet:{key}")
    kind = pet_kind(seed, key)
    n_words = rng.randint(12, 160)
    rec = {
        "link": pet_link(key),
        "pet_type": pet_type,
        "name": rng.choice(("Dog", "cat")) if kind == "placeholder" else rng.choice(_NAMES),
        "location": rng.choice(_LOCATIONS),
        "age": rng.choice(_AGES),
        "gender": rng.choice(("Male", "Female")),
        "size": rng.choice(_SIZES),
        "color": rng.choice(_COLORS),
        "breed": rng.choice(_BREEDS),
        "about_me": " ".join(rng.choice(_WORDS) for _ in range(n_words)),
        "image": f"https://img.petfinder.example/{key}.jpg",
    }
    for b in BOOL_FIELDS:
        rec[b] = rng.random() < 0.6
    n_missing = {"sparse": rng.randint(9, 12), "partial": rng.randint(1, 2),
                 "frail": rng.randint(3, 5)}.get(kind, 0)
    # name stays present so a sparse row is dropped by the null-ratio rule,
    # not by the placeholder rule
    for f in rng.sample([f for f in CHECKED_STRINGS + BOOL_FIELDS if f != "name"], n_missing):
        rec[f] = None if f in BOOL_FIELDS else ""
    return rec


def missing_count(rec: dict) -> int:
    return sum(1 for f in CHECKED_STRINGS if not rec[f]) + sum(
        1 for f in BOOL_FIELDS if rec[f] is None
    )


def render_pet_page(seed: int, key: int) -> str:
    """Malformed HTML for ``key``: unclosed <p>/<li>, mixed-case tags,
    unquoted attributes, a stray end tag, entities, footnote stars and
    line breaks inside text."""
    rec = pet_record(seed, key)
    rng = random.Random(f"{seed}:html:{key}")

    def p(field: str) -> str:
        v = rec[field]
        if not v and rng.random() < 0.5:
            return ""  # missing field: element absent rather than empty
        star = "*" if field == "breed" and v and rng.random() < 0.3 else ""
        return f"<p class={field}>{v}{star}\n"

    def li(field: str) -> str:
        v = rec[field]
        text = "" if v is None else ("Yes" if v else "No")
        return f'<LI class="{_BOOL_CLASS[field]}">{text}'

    about = rec["about_me"].replace("&", "&amp;")
    cut = about.find(" ", len(about) // 2)
    if cut > 0:
        about = about[:cut] + "\n   " + about[cut + 1:]
    name = f"About {rec['name']}*" if rec["name"] else ""
    return (
        "<!DOCTYPE html><HTML><head><title>Pet</title></head><body>"
        f'<div class="pet-profile"><H1 class="pet-name">{name}</h1>'
        '<div class="facts">' + "".join(p(f) for f in STRING_FIELDS[1:]) + "</div></span>"
        '<ul class="flags">' + "".join(li(f) for f in BOOL_FIELDS) + "</ul>"
        f'<div class="about">{about}</div>'
        f'<span class=image>{rec["image"]}</span></div></body></HTML>'
    )


NOT_FOUND_PAGE = "<html><body><h1>This pet is no longer available</h1></body></html>"


class SeededFetcher:
    """The benchmark-side fetcher handed to ``sources.fetch.fetch_documents``.
    Round 0 is the ingest fetch; round r >= 1 is the r-th re-verify pass,
    where a seeded share of links has gone away. Picklable by import path,
    so Spark's Python workers rebuild it from ``perfbench.gen``."""

    def __init__(self, seed: int, verify_round: int = 0):
        self.seed = seed
        self.verify_round = verify_round

    def __call__(self, url: str) -> str:
        key = link_key(url)
        if self.verify_round and is_dead(self.seed, key, self.verify_round):
            return NOT_FOUND_PAGE
        if pet_kind(self.seed, key) == "fail":
            raise ConnectionError(f"seeded fetch failure for {url}")
        return render_pet_page(self.seed, key)


def is_dead(seed: int, key: int, verify_round: int) -> bool:
    return unit(seed, "dead", key, verify_round) < DEAD_SHARE


def search_page_html(keys: list[int | None]) -> str:
    slots = "".join(
        f'<a href="/pet/{k}/details/"/>' if k is not None else '<a href=""/>' for k in keys
    )
    return f"<page>{slots}</page>"


class IngestGolden:
    """Generates each micro-batch's search pages and tracks, in pure
    Python, the table a correct pipeline commits: the reference's rules
    (O1 skip of known keys, placeholder and >=50%-missing drops,
    first-occurrence key dedup, liveness re-verify) restated directly on
    the generated records rather than on the HTML."""

    def __init__(self, seed: int, initial_rows: int, pages_per_batch: int):
        self.seed = seed
        self.pages_per_batch = pages_per_batch
        self.table: dict[str, dict] = {}
        self.next_key = 1
        self.next_page = 1
        self.verify_rounds = 0
        while len(self.table) < initial_rows:
            key = self._new_key()
            rec = pet_record(seed, key, "dog" if key % 2 else "cat")
            if pet_kind(seed, key) in ("partial", "full"):
                self.table[rec["link"]] = dict(rec, batch=-1)

    def _new_key(self) -> int:
        self.next_key += 1
        return self.next_key - 1

    def next_batch(self, batch: int) -> list[tuple[int, str, str, str]]:
        """The batch's (page, pet_type, url, html) rows; advances the golden
        table as a correct commit of this batch would."""
        rng = random.Random(f"{self.seed}:batch:{batch}")
        known = set(self.table)
        known_list = sorted(known)
        pages, used, seen = [], [], set()
        for _ in range(self.pages_per_batch):
            page = self.next_page
            self.next_page += 1
            pet_type = "dog" if page % 2 else "cat"
            slots = list(SLOT_KINDS)
            rng.shuffle(slots)
            if page % REPEAT_EVERY_PAGES == 0 and used:
                slots[slots.index("new")] = "repeat"
            keys: list[int | None] = []
            for kind in slots:
                if kind == "empty":
                    keys.append(None)
                elif kind == "known" and known_list:
                    keys.append(link_key(rng.choice(known_list)))
                elif kind == "repeat":
                    keys.append(rng.choice(used))
                else:
                    keys.append(self._new_key())
                if keys[-1] is not None:
                    used.append(keys[-1])
            url = f"{BASE_URL}/search/{pet_type}s-for-adoption/us/?page={page}"
            pages.append((page, pet_type, url, search_page_html(keys)))
            for k in keys:
                link = None if k is None else pet_link(k)
                if link is None or link in known or link in seen:
                    continue  # O1 skip, or a repeat: the first occurrence wins
                seen.add(link)
                rec = pet_record(self.seed, k, pet_type)
                if pet_kind(self.seed, k) != "fail" and valid(rec):
                    self.table[link] = dict(rec, batch=batch)
        return pages

    def verify(self) -> int:
        """One re-verify epoch; returns the number of dead keys removed."""
        self.verify_rounds += 1
        dead = [
            link
            for link, rec in self.table.items()
            if is_dead(self.seed, link_key(link), self.verify_rounds)
            or missing_count(rec) >= 3
        ]
        for link in dead:
            del self.table[link]
        return len(dead)


def valid(rec: dict) -> bool:
    """The placeholder rule and the >=50%-missing rule, as the reference
    states them."""
    if rec["name"].strip().lower() in ("dog", "cat"):
        return False
    return missing_count(rec) < 0.5 * (len(CHECKED_STRINGS) + len(BOOL_FIELDS))


# ---------------------------------------------------------------- curate corpus
# The same shape as the repo's documents table: ~30-word vocabulary,
# 8-90 words a document, five languages, twenty sources. NEAR_DUP_SHARE of
# the documents repeat an earlier one with one word appended (the repo's
# testdata appends "dup"), EXACT_DUP_SHARE repeat one verbatim.
DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
DOC_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002


def documents(seed: int, n: int) -> list[dict]:
    """``n`` rows of (doc_id, text, lang, source, n_chars), fixed by seed."""
    rng = random.Random(f"{seed}:documents")
    rows: list[dict] = []
    for doc_id in range(n):
        u = rng.random()
        if rows and u < NEAR_DUP_SHARE:
            text = rng.choice(rows)["text"] + " " + rng.choice(("dup", *DOC_WORDS))
        elif rows and u < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            text = rng.choice(rows)["text"]
        else:
            text = " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90)))
        v, lang = rng.random(), DOC_LANGS[-1][0]
        for name, share in DOC_LANGS:
            if v < share:
                lang = name
                break
            v -= share
        rows.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": f"src{rng.randrange(20)}", "n_chars": len(text)})
    return rows


EVENT_TYPES = ("view", "click", "cart", "purchase", "error")


def events(seed: int, n: int) -> list[dict]:
    """``n`` rows of (event_id, ts, user_id, event_type, value, props) in
    event-id and time order, fixed by seed."""
    import datetime

    rng = random.Random(f"{seed}:events")
    t = datetime.datetime(2024, 1, 1)
    rows = []
    for event_id in range(n):
        t += datetime.timedelta(microseconds=rng.randrange(1, 240_000_000))
        rows.append({"event_id": event_id, "ts": t, "user_id": rng.randrange(200),
                     "event_type": rng.choice(EVENT_TYPES),
                     "value": rng.randrange(1, 5000) / 100.0,
                     "props": f'{{"k": {rng.randrange(100)}}}'})
    return rows
