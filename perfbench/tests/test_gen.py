"""The benchmark's input generator: seeded, deterministic, Spark-free.

    python3 -m pytest perfbench/tests -q
"""

import datetime as dt

from perfbench import gen


def _hourly_inputs(seed, batches=4):
    plan = gen.HourlyPlan(seed, window=60, churn=8, reprice=5, universe=75, filler_blocks=2)
    out = []
    for _ in range(batches):
        b = plan.next_batch()
        out.append((b.now, b.search_pages, b.listing_pages, sorted(b.expected.items())))
    return out


def _cdc_inputs(seed, batches=3):
    plan = gen.CdcPlan(seed, keys=500, events=40)
    rows = [plan.initial_rows()] + [plan.next_batch() for _ in range(batches)]
    return rows, sorted(plan.expected(range(1, 501)).items())


def _doc_inputs(seed):
    return [gen.doc_shard(seed, shard, 300) for shard in range(2)]


def test_same_seed_gives_identical_inputs():
    for make in (_hourly_inputs, _cdc_inputs, _doc_inputs):
        assert repr(make(7)).encode() == repr(make(7)).encode()


def test_different_seeds_give_different_inputs():
    for make in (_hourly_inputs, _cdc_inputs, _doc_inputs):
        assert gen.digest(make(7)) != gen.digest(make(8))


def test_hourly_state_covers_universe_and_window_slides():
    plan = gen.HourlyPlan(3, window=60, churn=8, reprice=5, universe=75, filler_blocks=0)
    first = plan.next_batch()
    assert len(first.expected) == 75 and first.n_cards == 75
    assert len(first.listing_pages) == 75  # every page fetched on the first run
    second = plan.next_batch()
    assert second.n_cards == 60
    # 15 taken down, nothing new to list yet: only the takedowns are fetched
    assert len(second.listing_pages) == 15
    down = [v for v in second.expected.values() if v[1]]
    assert len(down) == 15 and all(v[2] == "non active" for v in down)
    third = plan.next_batch()
    assert third.n_cards == 60 and len(third.listing_pages) == 16  # 8 out, 8 in
    assert len(third.expected) == 75


def test_hourly_pages_carry_the_model():
    plan = gen.HourlyPlan(5, window=10, churn=2, reprice=1, universe=12, filler_blocks=3)
    b = plan.next_batch()
    oid, html, url = b.listing_pages[0]
    price = int(b.expected[oid][0])
    assert f"{price} ₽/мес." in html and url.endswith(f"/rent/flat/{oid}/")
    assert html.count('class="row"') == 3
    assert sum(p[1].count("CardComponent") for p in b.search_pages) == 12


def test_cdc_fold_records_changes_against_last_known_price():
    plan = gen.CdcPlan(1, keys=1, events=0)
    plan.initial_rows()
    plan.model[1] = [100.0, False, None, None, None]
    t = dt.datetime(2024, 6, 1, 1, 0, 0)
    plan._fold((1, t, 120.0, False, 10))
    plan._fold((1, t + dt.timedelta(seconds=1), None, True, 11))   # takedown
    plan._fold((1, t + dt.timedelta(seconds=2), 90.0, False, 12))  # relist, cheaper
    price, unpub, n, changes, dates = plan.model[1]
    assert (price, unpub, n) == (90.0, False, 2)
    assert changes == "20, -30"
    assert dates == "2024-06-01 01:00:00, 2024-06-01 01:00:02"


def test_planted_clusters_straddle_the_threshold():
    docs, planted = gen.doc_shard(2, 0, 400)
    ids = [d for d, _ in docs]
    assert len(set(ids)) == 400 and min(ids) == 0
    js = sorted(planted.values())
    assert js[0] < 0.7 and js[-1] >= 0.97
    assert sum(0.8 <= j < 0.97 for j in js) >= 10
    text = dict(docs)
    for a, b in planted:
        assert gen.jaccard(gen.shingle_set(text[a]), gen.shingle_set(text[b])) == planted[(a, b)]
    # every pair within a cluster is listed: 40 copies make clusters of
    # 2..9 documents plus one of 5
    members = {}
    for a, b in planted:
        members.setdefault(a, {a}).add(b)
        members.setdefault(b, {b}).add(a)
    clusters = {frozenset(m) for m in members.values()}
    assert sorted(len(c) for c in clusters) == [2, 3, 4, 5, 5, 6, 7, 8, 9]
    assert len(planted) == sum(len(c) * (len(c) - 1) // 2 for c in clusters)
    # the next shard's ids never collide with this one's
    docs1, _ = gen.doc_shard(2, 1, 400)
    assert not set(ids) & {d for d, _ in docs1}
