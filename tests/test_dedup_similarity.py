"""Dedup operators on planted near-duplicates: MinHash-LSH and SimHash
must surface a planted near-dup pair; exact dedup must collapse exact
copies."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets over "
    "the quiet valley and the river runs through the ancient forest"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                        # exact dup of 0
        (2, BASE.replace("quick", "swift")),              # near dup of 0
        (3, "completely different content about spark query engines and "
            "columnar execution with vectorized operators"),
        (4, "yet another unrelated document mentioning kafka topics "
            "watermarks and checkpoint recovery in streaming systems"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_collapses_copies(docs):
    kept = dedup.exact_dedup(docs)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 2, 3, 4]  # doc 1 removed, min-id winner kept


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert not any(3 in p or 4 in p for p in got)


def test_minhash_lsh_candidates_contain_planted_pair(docs):
    cands = dedup.minhash_lsh_candidates(docs)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in cands.collect()}
    assert got.get((0, 1)) == 1.0  # identical docs: all signatures equal
    assert (0, 2) in got  # near dup bucketed together


def test_simhash_hamming_orders_similarity(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert sig[0] == sig[1]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sig[0], sig[2]) < hamming(sig[0], sig[3])


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_near_dups(docs, max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing invariant: docs sharing a substring of length
    ≥ k + window − 1 (= 8 at defaults) share ≥1 fingerprint; disjoint
    docs share none."""
    from real_time_iot_data_pipeline_project_spark.operators import dedup as dd

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA xyzzy " + shared + " padding one"),
        (2, "BBBB qwert " + shared + " padding two"),
        (3, "completely unrelated content 12345 zzz"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    by_doc: dict[int, set] = {}
    for r in dd.winnow_fingerprints(df).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert len(by_doc[1] & by_doc[3]) == 0


def test_winnow_min_parallelism_explicit_plan_shape(spark):
    """The repartition is an explicit opt-in (ADVICE r3): plan shape must
    not depend on host core count or input split count. None -> map-side
    only (no Exchange); an int -> exactly one doc-sized Exchange."""
    from real_time_iot_data_pipeline_project_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, f"document number {i} with some repeated tokens") for i in range(20)],
        ["doc_id", "text"],
    )
    auto = dd.winnow_fingerprints(df)
    plan_auto = auto._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_auto
    wide = dd.winnow_fingerprints(df, min_parallelism=8)
    plan_wide = wide._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_wide
    # identical fingerprint sets either way
    assert (sorted(map(tuple, auto.collect()))
            == sorted(map(tuple, wide.collect())))


def test_connected_components_chain_and_isolates(spark):
    """Min-label propagation must cross multi-hop chains (diameter > 1),
    keep isolated nodes as singletons, and pick the min id as label."""
    from real_time_iot_data_pipeline_project_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    # chain 3-2-1-0 (given in arbitrary direction/order) + pair 5-6; 4,7 isolated
    edges = spark.createDataFrame(
        [(3, 2), (1, 2), (0, 1), (6, 5)], ["id_a", "id_b"]
    )
    comp = graph.connected_components(nodes, edges, id_col="doc_id")
    got = {r.id: r.component for r in comp.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}
    survivors = {r.id for r in graph.dedup_survivors(comp).collect()}
    assert survivors == {0, 4, 5, 7}


def test_winnow_overlap_pairs_planted(docs):
    """Overlap coefficient on winnowed fingerprints: exact dup = 1.0,
    single-word local edit stays high, unrelated docs absent."""
    pairs = {(r.id_a, r.id_b): r.overlap
             for r in dedup.winnow_overlap_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] >= 0.5 and pairs[(1, 2)] >= 0.5
    assert not any(3 in p or 4 in p for p in pairs)


def test_winnow_overlap_max_doc_freq_drops_boilerplate(spark):
    """Stop-fingerprint filter: a boilerplate prefix shared by ALL docs
    is excluded from the quadratic stage, so unrelated docs no longer
    pair; the genuinely-duplicated pair must survive."""
    boiler = "standard license header apache version two point zero "
    rows = [
        (0, boiler + "alpha beta gamma delta epsilon zeta eta theta"),
        (1, boiler + "alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + "totally different payload about streaming joins"),
        (3, boiler + "another unrelated body mentioning parquet scans"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # without the filter, boilerplate alone links every pair
    raw = {(r.id_a, r.id_b)
           for r in dedup.winnow_overlap_pairs(df, threshold=0.4).collect()}
    assert (2, 3) in raw
    filt = {(r.id_a, r.id_b)
            for r in dedup.winnow_overlap_pairs(df, threshold=0.4,
                                                max_doc_freq=2).collect()}
    assert (0, 1) in filt
    assert (2, 3) not in filt


def test_near_dedup_against_increment_semantics(spark):
    """Fuzzy incremental dedup: new docs near-dup to the signature store
    OR to a smaller-id increment doc are dropped; fresh docs survive.
    Greedy rule collapses transitive increment clusters onto nothing
    (all pair with the smallest id)."""
    long_a = "the quick brown fox jumps over the lazy dog and then runs far away " * 3
    base = spark.createDataFrame(
        [(1, long_a),
         (2, "an entirely different base document about columnar storage engines")],
        ["doc_id", "text"])
    base_sigs = dedup.minhash_signatures(base)
    edited_a = long_a.replace("lazy dog", "lazy hound")
    fresh = ("a genuinely novel increment document describing watermark "
             "semantics in structured streaming with several extra tokens")
    new = spark.createDataFrame(
        [(10, edited_a),                      # near-dup of base doc 1
         (11, fresh),                         # survives
         (12, fresh + " !"),                  # near-dup of 11 (smaller id wins)
         (13, fresh + " ?!"),                 # near-dup of 11 AND 12 -> dropped
         (14, "totally unrelated text mentioning parquet row groups and "
              "predicate pushdown at scan time")],
        ["doc_id", "text"])
    out = dedup.near_dedup_against(new, base_sigs, threshold=0.7)
    assert {r.doc_id for r in out.collect()} == {11, 14}
    # empty store: only within-increment dedup applies
    empty_sigs = dedup.minhash_signatures(
        spark.createDataFrame([], "doc_id long, text string"))
    out2 = dedup.near_dedup_against(new, empty_sigs, threshold=0.7)
    assert {r.doc_id for r in out2.collect()} == {10, 11, 14}


def test_contamination_screen_probes_planted_and_clean(spark, docs):
    """Winnowing-intersection screen: every planted probe (verbatim
    substring) must be found; synthetic/no-hit probes must not; result
    must equal the brute-force contains join exactly."""
    from real_time_iot_data_pipeline_project_spark.functions import textfns
    from real_time_iot_data_pipeline_project_spark.operators import contamination

    probes = spark.createDataFrame(
        [
            (100, "quick brown fox jumps"),       # hits docs 0, 1
            (101, "columnar execution with"),     # hits doc 3
            (102, "no such phrase anywhere at all"),  # clean
        ],
        ["probe_id", "probe_text"],
    )
    hits = {(r.doc_id, r.probe_id)
            for r in contamination.screen_probes(docs, probes).collect()}
    assert hits == {(0, 100), (1, 100), (3, 101)}
    # brute-force equivalence on the same inputs
    brute = {
        (r.doc_id, r.probe_id)
        for r in docs.select("doc_id", textfns.normalize_text("text").alias("n"))
        .crossJoin(probes)
        .filter(F.col("n").contains(F.col("probe_text")))
        .select("doc_id", "probe_id").collect()
    }
    assert hits == brute


def test_contamination_rejects_short_probes(spark, docs):
    import pytest as _pytest

    from real_time_iot_data_pipeline_project_spark.operators import contamination

    short = spark.createDataFrame([(1, "quick")], ["probe_id", "probe_text"])
    with _pytest.raises(ValueError, match="winnowing"):
        contamination.screen_probes(docs, short)


def test_contamination_probe_dim_scale_and_plan(spark):
    """The q52 shape: ≥1000 probes, probe side broadcast, no row-Python,
    planted probes all verified against their source docs."""
    from real_time_iot_data_pipeline_project_spark import registry
    from real_time_iot_data_pipeline_project_spark.operators import contamination
    from tests.conftest import SF_SMOKE

    docs = registry._t(spark, SF_SMOKE, "documents")
    probes = contamination.synthetic_probe_dim(spark, docs)
    n_probes = probes.count()
    assert n_probes >= 1000
    hits = contamination.screen_probes(docs, probes)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    got = {(r.doc_id, r.probe_id) for r in hits.collect()}
    planted = {r.probe_id for r in probes.filter("probe_id < 1000000").collect()}
    # every planted probe is a substring of its own source doc
    assert {(p, p) for p in planted} <= got
    # synthetic md5 probes never hit
    assert all(p < 1_000_000 for _, p in got)


def test_connected_components_raises_on_non_convergence(spark):
    """A diameter-4 path with max_iters=2 must RAISE, not silently return
    labels that violate the min-id contract."""
    import pytest

    from real_time_iot_data_pipeline_project_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(nodes, edges, id_col="doc_id", max_iters=2)
    # and with enough rounds the same graph converges to all-zeros
    comp = graph.connected_components(nodes, edges, id_col="doc_id", max_iters=6)
    assert {r.component for r in comp.collect()} == {0}


def test_multimodal_feature_stub(spark):
    from real_time_iot_data_pipeline_project_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-one")), (2, bytearray(b"payload-two"))],
        "media_id long, payload binary",
    )
    feats = multimodal.extract_features(df, dim=4, fake=True).collect()
    assert {r.media_id for r in feats} == {1, 2}
    assert all(len(r.features) == 4 for r in feats)
    # deterministic
    again = multimodal.extract_features(df, dim=4, fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))
    # real decode path is explicitly stubbed
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        multimodal.extract_features(df, dim=4, fake=False).collect()


def test_star_cc_matches_union_find_oracle(spark):
    """large-star/small-star CC agrees with a local union-find oracle on
    seeded random graphs (mixed cliques, chains, isolates) and with the
    min-label implementation where the latter converges."""
    import random

    from real_time_iot_data_pipeline_project_spark.operators import graph

    rng = random.Random(63)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(180)]
    edges += [(i, i + 1) for i in range(40, 60)]  # a 21-node chain

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id label per node
    mins: dict = {}
    for i in range(n):
        mins.setdefault(find(i), i)  # first i touching a root IS its min
    want = {i: mins[find(i)] for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.id: r.component
           for r in graph.connected_components_star(nodes, edf).collect()}
    assert got == want

    got_minlabel = {r.id: r.component
                    for r in graph.connected_components(
                        nodes, edf, max_iters=25).collect()}
    assert got_minlabel == want


def test_star_cc_driver_path_equals_distributed(spark, monkeypatch):
    """The round-15 small-graph fast path (driver union-find below
    DRIVER_CC_MAX_EDGES) must label identically to the distributed
    star rounds on the SAME graph — forced by shrinking the threshold
    so the distributed branch runs on a graph the fast path normally
    closes."""
    import random

    from real_time_iot_data_pipeline_project_spark.operators import graph

    rng = random.Random(17)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges += [(i, i + 1) for i in range(70, 90)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])

    fast = {r.id: r.component
            for r in graph.connected_components_star(nodes, edf).collect()}
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    stats: dict = {}
    dist = {r.id: r.component
            for r in graph.connected_components_star(
                nodes, edf, stats=stats).collect()}
    assert stats.get("driver_cc") is None  # the distributed branch ran
    assert stats["rounds"] >= 1
    assert fast == dist


def test_star_cc_converges_on_high_diameter_chain(spark):
    """The VERDICT r5 stretch probe: a chain with diameter far past 25.
    min-label propagation raises (documented behavior — one hop per
    round), while the star variant converges in O(log^2 n) rounds and
    still labels every node with the chain minimum."""
    import pytest

    from real_time_iot_data_pipeline_project_spark.operators import graph

    n = 400  # diameter 399 >> max_iters 25
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])

    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(nodes, edges)

    comp = graph.connected_components_star(nodes, edges)
    rows = comp.collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}


# --- X39: stride-1 duplicate-span removal ---------------------------------

def _spans(df):
    return {r.doc_id: (r.n_tokens, r.n_tokens_kept, r.cleaned_fp)
            for r in df.collect()}


def test_dup_span_keep_first_and_excise_rest(spark):
    # doc 0 owns the 8-token run; doc 1 repeats it at a SHIFTED
    # alignment (prefix token), which the disjoint chunk grid misses
    run = "a1 a2 a3 a4 a5 a6 a7 a8"
    df = spark.createDataFrame(
        [(0, run + " tail0"), (1, "prefix " + run + " tail1")],
        ["doc_id", "text"],
    )
    out = _spans(dedup.duplicate_span_removal(df, window_tokens=8))
    assert out[0] == (9, 9, out[0][2])            # first occurrence intact
    n, kept, _ = out[1]
    assert (n, kept) == (10, 2)                   # only 'prefix' + 'tail1' survive
    # the chunk grid (q64's rule) would NOT remove the shifted repeat:
    ch = {r.doc_id: (r.n_chunks, r.n_chunks_kept)
          for r in dedup.chunk_dedup(df, chunk_tokens=8).collect()}
    assert ch[1][0] == ch[1][1]                   # all chunks kept -> miss


def test_dup_span_overlapping_windows_merge(spark):
    # a 10-token duplicated run -> 3 overlapping flagged windows in the
    # copy; gaps-and-islands must merge them into ONE 10-token span
    run = " ".join(f"b{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, run), (1, "x " + run + " y")], ["doc_id", "text"])
    out = _spans(dedup.duplicate_span_removal(df, window_tokens=8))
    assert out[1][:2] == (12, 2)                  # x + y survive


def test_dup_span_short_and_unique_docs_intact(spark):
    import hashlib
    df = spark.createDataFrame(
        [(0, "tiny doc"), (1, "seven tokens only in this doc here"),
         (2, "   ")], ["doc_id", "text"])
    out = _spans(dedup.duplicate_span_removal(df, window_tokens=8))
    assert 2 not in out                           # whitespace-only dropped
    assert out[0][:2] == (2, 2)
    assert out[1][:2] == (7, 7)
    assert out[0][2] == hashlib.md5(b"tiny doc").hexdigest()


def test_dup_span_within_doc_self_repeat(spark):
    # the same window repeated INSIDE one doc: first stays, second goes
    run = "c1 c2 c3 c4 c5 c6 c7 c8"
    df = spark.createDataFrame(
        [(0, run + " mid " + run)], ["doc_id", "text"])
    out = _spans(dedup.duplicate_span_removal(df, window_tokens=8))
    assert out[0][:2] == (17, 9)                  # run + 'mid' survive


def test_dup_span_rejects_bad_window(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.duplicate_span_removal(df, window_tokens=0)


# --- X40: edit-distance LSH verification -----------------------------------

def test_edit_verify_exact_and_near_dups(docs):
    out = {(r.id_a, r.id_b): r.edit_dist
           for r in dedup.edit_distance_verify(docs).collect()}
    assert out[(0, 1)] == 0                       # exact dup pair
    assert 0 < out[(0, 2)] <= 5                   # quick->swift near dup
    assert all(a in (0, 1, 2) and b in (0, 1, 2) for a, b in out)


def test_edit_verify_rejects_block_swapped_candidate(spark):
    # block transposition: shingle BAG nearly identical (est_jaccard
    # hits 1.0 — MinHash is order-blind), but the swap costs ~|block|
    # edits, so the order-sensitive verify must reject the pair
    x = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 2
    y = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 2
    df = spark.createDataFrame(
        [(0, (x + y).strip()), (1, (y + x).strip())], ["doc_id", "text"])
    cand = {(r.id_a, r.id_b): r.est_jaccard
            for r in dedup.minhash_lsh_candidates(df).collect()}
    ver = {(r.id_a, r.id_b)
           for r in dedup.edit_distance_verify(df).collect()}
    assert cand[(0, 1)] == 1.0                    # LSH fully fooled
    assert (0, 1) not in ver                      # verify rejects it


def test_edit_verify_integer_boundary(spark):
    # normalized len 600; threshold 0.01 -> keep iff dist*100 <= 600,
    # i.e. dist <= 6: dist 6 sits ON the <= boundary (kept,
    # integer-exact), dist 7 is rejected. Explicit candidate pairs (the
    # injectable-pairs API) so the boundary check never depends on
    # banding luck.
    base = ("abcde fghij klmno pqrst uvwxy " * 20).strip()[:599] + "z"
    assert len(base) == 600
    d6 = base[:-6] + "9" * 6
    d7 = base[:-7] + "9" * 7
    df = spark.createDataFrame(
        [(0, base), (1, d6), (2, d7)], ["doc_id", "text"])
    explicit = spark.createDataFrame([(0, 1), (0, 2)], ["id_a", "id_b"])
    ver = {(r.id_a, r.id_b): (r.edit_dist, r.len_a, r.len_b)
           for r in dedup.edit_distance_verify(
               df, max_rel_dist="0.01", pairs=explicit).collect()}
    assert ver[(0, 1)] == (6, 600, 600)           # dist*100 == len: kept
    assert (0, 2) not in ver                      # dist*100 > len: rejected


def test_edit_verify_validation(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.edit_distance_verify(df, max_rel_dist="0")
    with pytest.raises(ValueError):
        dedup.edit_distance_verify(df, max_rel_dist=1.5)
    # a float that doesn't round-trip to a short decimal would give
    # den ~ 10^16 and overflow dist*den in the BIGINT filter: rejected
    # loudly at construction instead
    with pytest.raises(ValueError, match="short.*decimal"):
        dedup.edit_distance_verify(df, max_rel_dist=1 / 3)
    dedup.edit_distance_verify(df, max_rel_dist="0.333333")  # fine


# --- X39 incremental: dup-span removal against a base corpus ---------------

def test_dup_span_against_equals_full_rule_when_base_ids_first(spark):
    run = "d1 d2 d3 d4 d5 d6 d7 d8"
    rows = [
        (0, run + " base tail"),
        (1, "some other base content entirely distinct here"),
        (10, "fresh " + run + " increment"),          # window hits base
        (11, run + " again"),                          # also hits base
        (12, "unique increment text with no repeats at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = df.filter("doc_id < 10")
    new = df.filter("doc_id >= 10")
    inc = {r.doc_id: (r.n_tokens, r.n_tokens_kept, r.cleaned_fp)
           for r in dedup.duplicate_span_removal_against(
               new, base, window_tokens=8).collect()}
    full = {r.doc_id: (r.n_tokens, r.n_tokens_kept, r.cleaned_fp)
            for r in dedup.duplicate_span_removal(
                df, window_tokens=8).collect() if r.doc_id >= 10}
    assert inc == full                               # the equality property
    assert set(inc) == {10, 11, 12}                  # base never in output
    assert inc[10][:2] == (10, 2)                    # run excised
    assert inc[12][0] == inc[12][1]                  # untouched


def test_dup_span_against_store_wins_regardless_of_id_order(spark):
    # the NEW doc has the SMALLER id: the full-corpus rule would keep
    # its occurrence (min doc wins), but the store must always win
    run = "e1 e2 e3 e4 e5 e6 e7 e8"
    base = spark.createDataFrame([(100, run + " stored")], ["doc_id", "text"])
    new = spark.createDataFrame([(1, run + " arriving")], ["doc_id", "text"])
    out = dedup.duplicate_span_removal_against(
        new, base, window_tokens=8).collect()
    assert [(r.doc_id, r.n_tokens, r.n_tokens_kept) for r in out] == [(1, 9, 1)]


def test_dup_span_against_validation(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.duplicate_span_removal_against(df, df, window_tokens=-1)


def test_edit_verify_banded_cap_semantics(spark):
    # non-binding cap: identical output to the full DP; binding cap:
    # the pair whose dist exceeds it drops (banded lev returns -1,
    # which must never leak through the rel filter as a negative)
    base = ("abcde fghij klmno pqrst uvwxy " * 20).strip()[:599] + "z"
    d6 = base[:-6] + "9" * 6
    df = spark.createDataFrame([(0, base), (1, d6)], ["doc_id", "text"])
    explicit = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    full = sorted(map(tuple, dedup.edit_distance_verify(
        df, max_rel_dist="0.01", pairs=explicit).collect()))
    banded = sorted(map(tuple, dedup.edit_distance_verify(
        df, max_rel_dist="0.01", pairs=explicit, abs_cap=6).collect()))
    assert full == banded == [(0, 1, 6, 600, 600)]
    capped = dedup.edit_distance_verify(
        df, max_rel_dist="0.01", pairs=explicit, abs_cap=5).collect()
    assert capped == []                           # dist 6 > cap 5: dropped
    with pytest.raises(ValueError):
        dedup.edit_distance_verify(df, abs_cap=0)


def test_q128_abs_cap_non_binding_on_corpus(spark):
    """q128's banded cap is an optimization that must not change
    results. Its oracle deliberately carries the PURE rel rule, so a
    binding cap turns the hash gate red — this test is the fast,
    attributable version of that check: cap*den must dominate
    max_normalized_len*num for the corpus the gate runs on."""
    from tests.conftest import SF_CORRECT
    from real_time_iot_data_pipeline_project_spark.functions import textfns

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    max_len = docs.select(
        F.max(F.length(textfns.normalize_text("text"))).alias("m")
    ).head().m
    num, den, cap = 1, 5, 120          # q128's settings
    assert max_len * num <= cap * den, (
        f"abs_cap={cap} binds at max normalized len {max_len}: raise the "
        f"cap in q128 or the oracle gate will (correctly) go red")


# --- span-family property tests --------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(
    st.integers(1, 12),                       # window k
    st.integers(0, 40),                       # doc length n
    st.sets(st.integers(0, 39), max_size=15), # flagged start positions
)
@settings(max_examples=300, deadline=None)
def test_running_max_coverage_equals_naive_interval_check(k, n, flags):
    """The gaps-and-islands trick _excise_spans rests on: with
    fixed-length windows, `max(flag_end among starts <= t) >= t` is
    EXACTLY `exists flagged f with f <= t <= f+k-1` — the latest start
    before t also has the furthest end."""
    flags = {f for f in flags if f < n}
    runmax = -1
    for t in range(n):
        if t in flags:
            runmax = max(runmax, t + k - 1)
        covered_rule = runmax >= t
        covered_naive = any(f <= t <= f + k - 1 for f in flags)
        assert covered_rule == covered_naive, (k, t, sorted(flags))


def _py_dup_span(docs, k):
    """Pure-Python mirror of q127's rule (differential reference)."""
    toks = {d: t.split() for d, t in docs if t.split()}
    first: dict = {}
    flags: dict = {d: set() for d in toks}
    for d in sorted(toks):
        ts = toks[d]
        for p in range(len(ts) - k + 1):
            w = " ".join(ts[p:p + k])
            if w in first:
                flags[d].add(p)
            else:
                first[w] = (d, p)
    out = {}
    for d, ts in toks.items():
        runmax, kept = -1, []
        for t, tok in enumerate(ts):
            if t in flags[d]:
                runmax = max(runmax, t + k - 1)
            if runmax < t:
                kept.append(tok)
        out[d] = (len(ts), len(kept), " ".join(kept))
    return out


def test_dup_span_differential_vs_python_mirror(spark):
    """Differential test on a seeded random corpus with a tiny
    vocabulary (dense window collisions, many overlaps/self-repeats):
    the Spark operator must agree with an independent pure-Python
    implementation of the same rule, doc for doc."""
    import hashlib
    import random

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(6)]
    docs = [(d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 30))))
            for d in range(40)]
    expect = _py_dup_span(docs, 8)
    got = {r.doc_id: (r.n_tokens, r.n_tokens_kept, r.cleaned_text)
           for r in dedup.duplicate_span_removal(
               spark.createDataFrame(docs, ["doc_id", "text"]),
               window_tokens=8, with_text=True).collect()}
    assert got == expect
    # and the fingerprint column is md5 of the (normalized) reassembly
    fp = {r.doc_id: r.cleaned_fp
          for r in dedup.duplicate_span_removal(
              spark.createDataFrame(docs, ["doc_id", "text"]),
              window_tokens=8).collect()}
    for d, (_, _, text) in expect.items():
        assert fp[d] == hashlib.md5(text.encode()).hexdigest()
