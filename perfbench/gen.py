"""Seeded input generator for the benchmark, free of Spark.

Every input a workload feeds the package comes from here, and so does
the answer the runner checks the package's output against:

- :class:`HourlyPlan`: a sliding search window over a bounded listing
  universe (new, re-priced and taken-down listings), the rendered search
  and listing pages each hourly batch asks for, and a model of the state
  table after each batch.
- :class:`CdcPlan`: a large initial state plus micro-batches of price
  changes and takedowns that favour recent listings, with a Python fold
  of the events (last price, change count, change history).
- :func:`doc_shard`: a document shard with planted clusters of edited
  copies and the exact Jaccard similarity of every pair in a cluster.

The same seed gives byte-identical inputs (``perfbench/tests``).
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
import zlib

# ---------------------------------------------------------------------------
# Hourly batch: search pages + listing pages + state model
# ---------------------------------------------------------------------------

OFFER_BASE = 100_000
CARDS_PER_PAGE = 25
KNOWN_STREETS = 400  # addresses the geocode table resolves
# Dead-weight layout markup around the ~1 KB of facts a listing page
# carries; 400 blocks make a ~75 KB page, the size the parse stage
# meets in the crawl.
_FILLER = (
    '<div class="row"><nav class="crumbs"><a href="/">Главная</a>'
    '<a href="/rent/">Аренда</a><span class="sep">/</span></nav>'
    '<div class="banner" data-track="imp"><span>реклама</span></div></div>'
)
FILLER_BLOCKS = 400
_WORDS = (
    "светлая просторная квартира рядом метро парк ремонт мебель техника "
    "балкон тихий двор школа магазин окна кухня санузел раздельный этаж "
    "вид лифт консьерж парковка новый дом кирпичный монолит евроремонт"
).split()


def _address(n: int) -> str:
    # every tenth listing sits on a street the geocoder cannot resolve,
    # so its distance stays null however often the pipeline retries
    if n % 10 == 3:
        return f"Москва, пер. Безымянный, {n}"
    return f"Москва, ул. Тестовая, {n % KNOWN_STREETS + 1}"


def geocode_rows() -> list[tuple[str, float, float]]:
    """(address, lat, lon) for every resolvable street."""
    return [
        (f"Москва, ул. Тестовая, {k}", float(k), 37.5)
        for k in range(1, KNOWN_STREETS + 1)
    ]


def route_rows() -> list[tuple[float, float, float]]:
    """(lat, lon, meters) for every geocoded point."""
    return [(lat, lon, lat * 100.0 + 50.0) for _, lat, lon in geocode_rows()]


def _distance_km(n: int) -> float | None:
    if n % 10 == 3:
        return None
    lat = float(n % KNOWN_STREETS + 1)
    return round((lat * 100.0 + 50.0) / 1000.0, 2)


def _title(n: int) -> str:
    floor = n % 15 + 1
    return f"{n % 4 + 1}-комн. кв., {n % 60 + 30} м², {floor}/{floor + n % 10} этаж"


def _card_html(oid: str, n: int, price: int) -> str:
    return (
        '<article data-name="CardComponent"><div data-name="LinkArea">'
        f'<a href="/rent/flat/{oid}/">card</a></div>'
        f'<span data-mark="OfferTitle">{_title(n)}</span>'
        f'<span data-mark="MainPrice">{price} ₽/мес.</span></article>'
    )


def listing_url(oid: str) -> str:
    return f"https://example.test/rent/flat/{oid}/"


def _listing_html(n: int, price: int, unpublished: bool, text: str,
                  filler_blocks: int) -> str:
    floor = n % 15 + 1
    parts = [
        "<html><body>",
        _FILLER * filler_blocks,
        '<div data-name="OfferUnpublished"><span>Снято</span></div>' if unpublished else "",
        f'<h1 data-mark="OfferTitle">{_title(n)}</h1>',
        f'<span data-mark="MainPrice">{price} ₽/мес.</span>',
        '<div data-name="OfferMetaData"><div data-testid="metadata-updated-date">'
        "<span>Обновлено: 12 мая, 14:30</span></div>",
        f'<div data-name="OfferStats">{n % 900 + 17} просмотров, {n % 40} за сегодня, '
        f"{n % 500 + 5} уникальных</div></div>",
        f'<div data-name="Geo"><div itemprop="name" content="{_address(n)}"></div>'
        f'<ul><li data-name="UndergroundItem"><a>м. Станция{n % 12}</a></li></ul></div>',
        f'<div data-name="OfferFactItem"><span>Этаж</span><span>{floor} из {floor + n % 10}</span></div>',
        '<div data-name="FeaturesItem">Холодильник</div>' if n % 2 == 0 else "",
        f'<div data-name="Description"><span>{text}</span></div>',
        "</body></html>",
    ]
    return "".join(parts)


class HourlyBatch:
    """One hourly run's inputs and the state expected after it."""

    def __init__(self, now, search_pages, listing_pages, n_cards, expected):
        self.now = now                        # pipeline clock, 'YYYY-mm-dd HH:MM:SS'
        self.search_pages = search_pages      # [(page_id, html)]
        self.listing_pages = listing_pages    # [(offer_id, html, url)]
        self.n_cards = n_cards
        # offer_id -> (price_value, is_unpublished, status, distance)
        self.expected = expected

    @property
    def records(self) -> int:
        return self.n_cards + len(self.listing_pages)


class HourlyPlan:
    """A sliding search window over ``universe`` listings.

    Batch 0 lists the whole universe and fetches every page. Each later
    batch shows ``window`` listings: it takes listings down (``churn``
    of them once the window has shrunk to size; their pages are fetched
    to confirm the takedown), lists ``churn`` from the inactive pool
    (pages fetched) and re-prices ``reprice`` of the listings that stay
    (card price only). The state table holds the whole universe from
    the first commit on, so its size is steady over a run.
    """

    def __init__(self, seed: int, window: int, churn: int, reprice: int,
                 universe: int, filler_blocks: int = FILLER_BLOCKS):
        self.rng = random.Random(f"hourly/{seed}")
        self.window, self.churn, self.reprice = window, churn, reprice
        self.filler_blocks = filler_blocks
        self.universe = list(range(universe))
        self.price = {n: self.rng.randrange(30, 150) * 1000 for n in self.universe}
        self.text = {
            n: " ".join(self.rng.choice(_WORDS) for _ in range(self.rng.randrange(20, 40)))
            for n in self.universe
        }
        self.active: list[int] = []           # window order, as the search shows it
        self.state: dict[str, tuple] = {}
        self.batch_no = 0
        self.t0 = dt.datetime(2024, 6, 1, 0, 0, 0)

    def next_batch(self, filler_blocks: int | None = None) -> HourlyBatch:
        rng = self.rng
        fill = self.filler_blocks if filler_blocks is None else filler_blocks
        prev = set(self.active)
        if self.batch_no == 0:
            # the first batch lists the whole universe, so the state
            # table holds every listing from the first commit on
            self.active = list(self.universe)
            rng.shuffle(self.active)
        else:
            pool = [n for n in self.universe if n not in prev]
            entering = rng.sample(pool, min(self.churn, len(pool)))
            n_leaving = len(self.active) + len(entering) - self.window
            leaving = set(rng.sample(self.active, n_leaving))
            staying = [n for n in self.active if n not in leaving]
            for n in rng.sample(staying, self.reprice):
                self.price[n] += rng.choice((-3, -2, -1, 1, 2, 3)) * 1000
            for n in entering:
                self.price[n] = rng.randrange(30, 150) * 1000
            self.active = staying + entering
            rng.shuffle(self.active)
        now = (self.t0 + dt.timedelta(hours=self.batch_no)).strftime("%Y-%m-%d %H:%M:%S")
        cur = set(self.active)
        # the pipeline's scope: new to the active set (J6) plus taken
        # down (J7); everything else rides on its search card alone
        fetched = (cur - prev) | (prev - cur)
        cards = [
            _card_html(str(OFFER_BASE + n), n, self.price[n]) for n in self.active
        ]
        search_pages = [
            (p, "<html><body>" + "".join(cards[i:i + CARDS_PER_PAGE]) + "</body></html>")
            for p, i in enumerate(range(0, len(cards), CARDS_PER_PAGE))
        ]
        listing_pages = []
        for n in sorted(fetched):
            oid = str(OFFER_BASE + n)
            listing_pages.append(
                (oid, _listing_html(n, self.price[n], n not in cur, self.text[n], fill),
                 listing_url(oid))
            )
        for n in cur:
            old = self.state.get(str(OFFER_BASE + n))
            dist = _distance_km(n) if n in fetched or old is None else old[3]
            self.state[str(OFFER_BASE + n)] = (float(self.price[n]), False, "active", dist)
        for n in prev - cur:
            oid = str(OFFER_BASE + n)
            self.state[oid] = (float(self.price[n]), True, "non active", self.state[oid][3])
        self.batch_no += 1
        return HourlyBatch(now, search_pages, listing_pages, len(cards), dict(self.state))


# ---------------------------------------------------------------------------
# CDC fold: initial state + event micro-batches + Python fold
# ---------------------------------------------------------------------------


TAKEDOWN_SHARE = 0.15  # share of CDC events that take a listing down


class CdcPlan:
    """``keys`` listings in the initial state, then batches of ``events``
    price changes and takedowns. Keys are drawn with a bias toward recent
    (high) ids, so one batch touches few keys of a much larger state.

    Rows are ``(offer_id, updated_date, price_value, is_unpublished,
    event_id)``, the snapshot schema of the streaming fold.
    """

    T0 = dt.datetime(2024, 6, 1, 0, 0, 0)

    def __init__(self, seed: int, keys: int, events: int):
        self.rng = random.Random(f"cdc/{seed}")
        self.keys, self.events = keys, events
        self.next_event_id = 0
        self.batch_no = 0
        # per key: [price, is_unpublished, total_changes, changes, dates]
        self.model: dict[int, list] = {}

    def initial_rows(self) -> list[tuple]:
        rows = []
        for k in range(1, self.keys + 1):
            price = float(self.rng.randrange(30, 150) * 1000)
            rows.append((k, self.T0, price, False, self._eid()))
            self.model[k] = [price, False, None, None, None]
        return rows

    def _eid(self) -> int:
        self.next_event_id += 1
        return self.next_event_id

    def next_batch(self) -> list[tuple]:
        rng = self.rng
        self.batch_no += 1
        base = self.T0 + dt.timedelta(hours=self.batch_no)
        rows = []
        for j in range(self.events):
            k = self.keys - int(self.keys * rng.random() ** 4)
            ts = base + dt.timedelta(seconds=j)
            if rng.random() < TAKEDOWN_SHARE:
                rows.append((k, ts, None, True, self._eid()))
            else:
                price = self.model[k][0] + rng.choice((-5, -2, -1, 1, 2, 5)) * 500
                rows.append((k, ts, float(max(price, 1000.0)), False, self._eid()))
        for r in rows:
            self._fold(r)
        return rows

    def _fold(self, row: tuple) -> None:
        """The reference merge for one event, in arrival order: a price
        change is recorded against the last known price, except on the
        row that unpublishes the listing."""
        k, ts, price, unpub, _ = row
        m = self.model[k]
        unpub_tr = unpub is True and m[1] is False
        if not unpub_tr and price is not None and price != m[0]:
            diff = int(price) - int(m[0])
            m[2] = (m[2] or 0) + 1
            stamp = ts.strftime("%Y-%m-%d %H:%M:%S")
            m[3] = f"{m[3]}, {diff}" if m[3] else str(diff)
            m[4] = f"{m[4]}, {stamp}" if m[4] else stamp
        if price is not None:
            m[0] = price
        if unpub is not None:
            m[1] = unpub

    def expected(self, keys) -> dict[int, tuple]:
        """key -> (price_value, is_unpublished, total_price_changes,
        price_changes, price_changes_dates) after the batches so far."""
        return {k: tuple(self.model[k]) for k in keys}


# ---------------------------------------------------------------------------
# Document shards with planted near-duplicates
# ---------------------------------------------------------------------------


def shingle_set(text: str, k: int = 3) -> frozenset:
    """Distinct whitespace-token k-shingles, as the package's dedup
    operators define them."""
    toks = text.strip().split()
    if len(toks) < k:
        return frozenset()
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


# A shard's planted near-duplicates: 10% of its documents are edited
# copies, grouped into clone clusters of 2 to 10 documents (the package's
# dedup scale runs meet clusters of 10, README "1x10" tier). The share,
# the cluster sizes and the edit model are assumptions, not measured
# crawl figures.
DUP_SHARE = 0.1
MAX_CLUSTER = 10
# A copy replaces up to MAX_EDITS tokens of a cluster member (or, with
# no replacement, appends one), so within-cluster Jaccard spans about
# 0.5-0.99 and straddles the usual 0.8 threshold.
MAX_EDITS = 4
VOCAB = 20_000


def _edited_copy(rng: random.Random, toks: list[str]) -> list[str]:
    out = list(toks)
    m = rng.randrange(MAX_EDITS + 1)
    for i in rng.sample(range(len(out)), m):
        out[i] = f"w{rng.randrange(VOCAB)}"
    if m == 0:
        out.append(f"w{rng.randrange(VOCAB)}")
    return out


def doc_shard(seed: int, shard: int, n_docs: int) -> tuple[list[tuple[int, str]], dict]:
    """``n_docs`` documents ``(doc_id, text)`` with ids unique to the
    shard, and ``{(doc_a, doc_b): jaccard}`` for every pair of documents
    in the same planted cluster.

    Each cluster starts from an original document; every copy edits a
    member already in the cluster, which gives stars and chains. Cluster
    sizes cycle through 2..MAX_CLUSTER, so every shard of a size plants
    the same number of pairs; which of them clear a threshold depends on
    the seeded edits. Originals are random draws from the vocabulary and
    share no shingles with one another in practice.
    """
    rng = random.Random(f"docs/{seed}/{shard}")
    n_copies = int(n_docs * DUP_SHARE)
    toks = [
        [f"w{rng.randrange(VOCAB)}" for _ in range(rng.randrange(60, 120))]
        for _ in range(n_docs - n_copies)
    ]
    sizes, left, k = [], n_copies, 1
    while left:
        sizes.append(min(k, left))
        left -= sizes[-1]
        k = k % (MAX_CLUSTER - 1) + 1
    clusters = []
    for src, copies in zip(rng.sample(range(len(toks)), len(sizes)), sizes):
        members = [src]
        for _ in range(copies):
            toks.append(_edited_copy(rng, toks[rng.choice(members)]))
            members.append(len(toks) - 1)
        clusters.append(members)
    order = list(range(len(toks)))
    rng.shuffle(order)
    base = shard * n_docs
    doc_id = {t: base + pos for pos, t in enumerate(order)}
    docs = [(base + pos, " ".join(toks[t])) for pos, t in enumerate(order)]
    planted = {}
    for members in clusters:
        sets = {m: shingle_set(" ".join(toks[m])) for m in members}
        for x, y in itertools.combinations(members, 2):
            a, b = sorted((doc_id[x], doc_id[y]))
            planted[(a, b)] = jaccard(sets[x], sets[y])
    return docs, planted


def digest(obj) -> int:
    """CRC32 of an input's repr: a cheap fingerprint for tests."""
    return zlib.crc32(repr(obj).encode())
