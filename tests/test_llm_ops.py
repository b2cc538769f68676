"""Semantic tests for the LLM-pipeline operators: planted near-duplicates
must be found, unrelated text must not be; LSH recall is measured against
the exact baseline."""

import pytest
from pyspark.sql import functions as F

from liq_stream_spark.operators import dedup as D
from liq_stream_spark.operators import similarity as S
from liq_stream_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to find food and water for the winter"
    )
    near = base.replace("quick", "swift").replace("winter", "summer")
    rows = [
        (0, base),
        (1, near),                          # near-dup of 0
        (2, base),                          # exact dup of 0
        (3, "completely different content about spark query engines and "
            "distributed columnar execution with shuffles and codegen"),
        (4, "short text"),
        (5, ""),                            # empty edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups(docs):
    out = D.dedup_exact(docs, "text", "doc_id").collect()
    by_text = {r["text"]: r for r in out}
    base = next(t for t in by_text if t.startswith("the quick"))
    assert by_text[base]["n_dups"] == 2 and by_text[base]["canonical_id"] == 0
    assert len(out) == 5  # 6 docs, one exact-dup pair


def test_minhash_lsh_finds_planted_dups(docs):
    sigs = D.minhash_signatures(docs)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sigs).collect()
    }
    assert (0, 2) in pairs          # exact dup always collides
    assert (0, 1) in pairs          # near-dup should collide in >=1 band
    assert not any(3 in p for p in pairs)  # unrelated never pairs


def test_ngram_jaccard_exact_values(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert out[(0, 2)] == 1.0
    assert 0.8 < out[(0, 1)] < 1.0
    assert (0, 3) not in out


def test_checkpoint_dir_makes_pins_reliable(spark, docs, tmp_path):
    """Whether a pin is reliable follows the SparkContext's checkpoint
    dir (liq_stream_spark.pins). With a dir set, every pin is a
    checkpoint() written under it, with results identical to the
    localCheckpoint arm's; with no dir set, nothing is written. Either
    way a pinned frame read by two consumers computes once: a Python UDF
    behind the pin runs once per row, also for the checkpoint's write."""
    import os

    from liq_stream_spark import pins

    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    calls = sc.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x

    def evaluations():
        calls.value = 0
        with pins.scope():
            p = pins.pin(spark.range(500).select(counted("id").alias("y")))
            assert p.filter("y % 2 = 0").count() == 250
            assert p.filter("y % 2 = 1").count() == 250
        return calls.value

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def run():
        pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
        return (
            rows(pairs),
            rows(D.simhash_near_pairs(docs, max_hamming=8)),
            rows(D.dedup_survivors(docs, pairs)),
        )

    def written():
        return sorted(
            os.path.join(r, f) for r, _d, files in os.walk(ckpt) for f in files
        )

    # no public API unsets the dir; the tests after this one must pin
    # with the dir the session had before (none, in this suite)
    set_dir = getattr(sc._jsc.sc(), "checkpointDir_$eq")
    prev_dir = sc.getCheckpointDir()
    try:
        set_dir(sc._jvm.scala.Option.apply(None))
        local = run()
        assert evaluations() == 500
        sc.setCheckpointDir(ckpt)
        assert run() == local
        reliable_files = written()
        assert reliable_files, "reliable pins must write under the checkpoint dir"
        assert evaluations() == 500, "the checkpoint write recomputed the frame"
        reliable_files = written()
        set_dir(sc._jvm.scala.Option.apply(None))
        assert run() == local
        assert written() == reliable_files, "no checkpoint dir, no writes"
    finally:
        set_dir(sc._jvm.scala.Option.apply(prev_dir))
    # a failed restore would turn every later test onto the reliable arm
    assert sc.getCheckpointDir() == prev_dir


def test_simhash_hamming_close_for_near_dups(docs):
    rows = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_near_pairs(docs, max_hamming=64).collect()
    ]
    pairs = {(a, b): h for a, b, h in rows}
    # first-shared-block emission (r6): identical signatures share all 4
    # blocks — each pair must still appear exactly once, with no distinct
    # in the plan to hide a double emission
    assert len(rows) == len(pairs)
    assert pairs[(0, 2)] == 0
    assert pairs[(0, 1)] <= 12  # near-dup: few of 64 bits flip
    if (0, 3) in pairs:
        assert pairs[(0, 3)] > pairs[(0, 1)]


def test_simhash64_single_row_matches_table(docs, spark):
    """The streaming single-row HOF form and the batch explode+codegen
    table must produce identical 64-bit signatures."""
    single = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", X.simhash64("text").alias("s")).collect()
    }
    table = {r["doc_id"]: r["simhash"] for r in D.simhash_table(docs).collect()}
    assert single == table


def test_quality_and_langid_edges(docs, spark):
    q = {r["doc_id"]: r for r in X.quality_features(docs).collect()}
    assert q[5]["n_tokens"] == 0 and q[5]["avg_token_len"] == 0.0
    assert q[0]["n_stopwords"] > 0
    lang = {r["doc_id"]: r["pred_lang"] for r in X.lang_id(docs).collect()}
    assert lang[0] == "en"      # 'the'/'and'/'to' markers
    assert lang[5] == "und"     # empty text scores zero everywhere


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(queries, emb, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_lsh(queries, emb, k=10).collect()
    }
    # near-orthogonal random embeddings are LSH's worst case; require the
    # machinery to produce candidates and overlap nontrivially
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall > 0.05, f"recall {recall}"


def test_near_dup_bucketed_default_recall_and_plan(spark):
    """The DEFAULT near-dup path must (a) never cross-join, (b) have exact
    precision (rescored), (c) recall a healthy share of the exact pairs
    even at the fixture's worst-case low threshold."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_dup_pairs_exact(emb, threshold=0.4).collect()
    }
    bucketed_df = S.cosine_near_dup_pairs(
        emb, threshold=0.4, n_planes=3, n_tables=8
    )
    plan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    bucketed = {(r["id_a"], r["id_b"]) for r in bucketed_df.collect()}
    assert bucketed <= exact, "bucketed path emitted a below-threshold pair"
    recall = len(bucketed) / len(exact)
    assert recall >= 0.5, f"recall {recall} ({len(bucketed)}/{len(exact)})"


def test_bpe_token_count_known_values(spark):
    """Hand-tokenized expectations for the lookahead-free GPT-2-style
    pretokenizer (matches are non-overlapping, left-to-right):

    "Hello, world!" -> [Hello][,][ world][!]        = 4
    "it's 2024 now" -> [it]['s][ 2024][ now]        = 4
    "a  b"          -> [a][  ][b]                   = 3
      (the space-prefixed letter branch needs a letter right after at
      most ONE space, so the two-space run falls to the \\s+ branch
      whole, and 'b' is then matched with no leading space)
    "" -> 0, NULL -> 0 (coalesced)
    """
    df = spark.createDataFrame(
        [(0, "Hello, world!"), (1, "it's 2024 now"), (2, "a  b"),
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", X.bpe_token_count("text").alias("n")
        ).collect()
    }
    assert got == {0: 4, 1: 4, 2: 3, 3: 0, 4: 0}


def test_ivf_exact_when_probing_all_cells(spark):
    """Plumbing invariant: nprobe = n_cells means every cell is scored, so
    IVF must EQUAL the exact brute-force top-k — proves the inverted file
    partitions the corpus without losing or duplicating vectors."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        tuple(r) for r in S.cosine_topk(queries, emb, k=10).collect()
    }
    full_probe = {
        tuple(r)
        for r in S.ivf_topk(
            queries, emb, k=10, n_cells=16, nprobe=16
        ).collect()
    }
    assert full_probe == exact


def test_assign_cells_zero_norm_and_tiebreak(spark):
    """_assign_cells' max_by argmax must keep the row_number window's
    exact semantics it replaced (r7): a zero-norm vector (NULL cosine
    against every centroid — ranked below every real score) and an
    exact score tie both resolve to the SMALLEST cell id."""
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "cell long, centroid array<double>",
    )
    vecs = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [2.0, 0.0]), (12, [0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["vid"], r["cell"])
        for r in S._assign_cells(vecs, cents, "vec_id", "embedding").collect()
    }
    # 10: zero-norm -> all NULL scores -> min cell 1
    # 11: ties cells 1 and 2 at cosine 1.0 -> min cell 1
    # 12: cell 3 wins outright
    assert got == {(10, 1), (11, 1), (12, 3)}


def test_index_cache_rows_match_direct_build(spark, tmp_path, monkeypatch):
    """plans/index_cache's memoized ANN index must be BIT-identical to a
    direct operator build (the deterministic-build premise the memo's
    correctness rests on), and a second call must serve from the memo.
    The store root is isolated (r8 review): popping the memo key now
    falls through to DISK, so the default shared store would make this
    order/state-dependent and leave persistent state behind."""
    from liq_stream_spark.plans import index_cache as IC

    monkeypatch.setenv("LIQ_ANN_STORE", str(tmp_path / "store"))
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    key = ("ivf", IC._fingerprint(sf), 16, 2)
    IC._rows.pop(key, None)
    cached = IC.cached_centroids(spark, emb, sf, n_cells=16).collect()
    direct = S.kmeans_centroids(emb, n_cells=16, iters=2).collect()
    assert sorted(map(tuple, cached)) == sorted(map(tuple, direct))
    # second call: memo hit — the stored list is reused, not rebuilt
    stored = IC._rows[key]
    IC.cached_centroids(spark, emb, sf, n_cells=16)
    assert IC._rows[key] is stored


def test_lsh_exact_when_zero_planes(spark):
    """Degeneration invariant (the s04/s05 driver-oracle basis): with
    n_planes=0 every vector lands in ONE bucket, the candidate set is
    every pair, and the full LSH machinery (bucketing, equi-join,
    candidate dedup, rescore, rank) must EQUAL the exact baselines."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact_topk = {
        tuple(r) for r in S.cosine_topk(queries, emb, k=10).collect()
    }
    degen_topk = {
        tuple(r)
        for r in S.cosine_topk_lsh(
            queries, emb, k=10, n_planes=0, n_tables=1
        ).collect()
    }
    assert degen_topk == exact_topk
    exact_pairs = {
        tuple(r)
        for r in S.cosine_near_dup_pairs_exact(emb, threshold=0.4).collect()
    }
    degen_pairs = {
        tuple(r)
        for r in S.cosine_near_dup_pairs(
            emb, threshold=0.4, n_planes=0, n_tables=1
        ).collect()
    }
    assert degen_pairs == exact_pairs


def test_auto_n_cells():
    """SemDeDup cell auto-sizing: floors at 16 for fixture-scale corpora
    (keeps the d11 oracle's pinned 16 cells exact at every fixture SF) and
    grows linearly so per-cell work stays ~target_cell_size^2."""
    assert S.auto_n_cells(0) == 16
    assert S.auto_n_cells(500) == 16
    assert S.auto_n_cells(2000) == 16
    assert S.auto_n_cells(16 * 4096) == 16
    assert S.auto_n_cells(16 * 4096 + 1) == 17
    assert S.auto_n_cells(10**9) == 244141
    assert S.auto_n_cells(10**6, target_cell_size=1000) == 1000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        S.auto_n_cells(-1)
    with _pytest.raises(ValueError):
        S.auto_n_cells(10, target_cell_size=0)


def test_ivf_pruned_probe_recall_and_plan(spark):
    """At nprobe=4/16 the probe join must stay an equi-join on cell (no
    cross join of query x corpus) and recall a meaningful share of the
    exact neighbors. Centroids are built once and reused across both query
    batches — the offline-index/online-probe split."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = S.kmeans_centroids(emb, n_cells=16, iters=2)
    approx_df = S.ivf_topk(
        queries, emb, k=10, n_cells=16, nprobe=4, centroids=cents
    )
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    # the only cartesian allowed is vs the 16-row broadcast centroid table
    assert "CartesianProduct" not in plan
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(queries, emb, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in approx_df.collect()
    }
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2, f"recall {recall}"


def test_token_hashes64_fast_matches_expression(spark):
    """The Arrow token-hash path must be VALUE-IDENTICAL to the HOF
    expression form on every edge: tabs (survive Spark's space-only trim,
    producing empty tokens at the edges), multi-space runs, empty string,
    NULL, unicode incl. astral codepoints."""
    rows = [
        (0, "the quick brown fox"),
        (1, "  leading and trailing  "),
        (2, "\ttab\tseparated\t"),       # trim() keeps tabs -> "" tokens
        (3, ""),
        (4, None),
        (5, "héllo wörld é"),
        (6, "emoji \U0001F600 mix"),     # astral codepoint
        (7, "a  b   c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr_form = df.select(
        "doc_id", X._tokens64_expr("text").alias("h")
    )
    fast_form = df.select(
        "doc_id", X.token_hashes64_fast("text").alias("h")
    )
    e = {r["doc_id"]: r["h"] for r in expr_form.collect()}
    f = {r["doc_id"]: r["h"] for r in fast_form.collect()}
    assert e == f


def test_fingerprint_order_sensitivity(spark):
    df = spark.createDataFrame(
        [(0, "abcdef"), (1, "fedcba"), (2, "abcdef"), (3, "ab")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", X.fingerprint("text").alias("fp")).collect()}
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]     # same chars, different order
    assert fps[3] == 0          # shorter than the shingle width


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (0-1, 1-2, 2-3) must collapse to one component even
    though 0 and 3 never share a pair; disjoint islands stay separate;
    nodes absent from every pair are absent from the output."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    cc = {r["node"]: r["comp"] for r in D.connected_components(pairs).collect()}
    assert cc == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20}

    clusters = D.dedup_clusters(pairs).collect()
    by_doc = {r["doc_id"]: r for r in clusters}
    assert by_doc[3]["cluster_id"] == 0 and by_doc[3]["cluster_size"] == 4
    assert by_doc[0]["is_canonical"] and not by_doc[3]["is_canonical"]
    assert by_doc[11]["cluster_size"] == 2
    assert 5 not in by_doc  # never paired -> not emitted


def test_connected_components_long_path_pointer_jumping(spark):
    """A 64-node path graph converges within the iteration cap — pointer
    jumping makes rounds O(log diameter), not O(diameter)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = D.connected_components(pairs, max_iters=10).collect()
    assert len(out) == 64
    assert {r["comp"] for r in out} == {0}


def test_connected_components_matches_union_find(spark):
    """Random-graph property: the distributed min-label loop (with its
    r7 specialized first round) must equal a sequential union-find with
    min-node representatives — self-loops, parallel/reversed duplicate
    edges, stars, chains, and multi-component shapes included."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=40),
                st.integers(min_value=0, max_value=40),
            ),
            min_size=1,
            max_size=60,
        )
    )
    def check(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["comp"]
            for r in D.connected_components(pairs).collect()
        }
        assert got == expected

    check()


def test_tfidf_top_terms_ranking(spark):
    """A term appearing in every doc (df=N) has idf 0 and can never beat a
    rarer term with tf >= 1; rank ties break on the term string."""
    rows = [
        (0, "common rare rare common common"),
        (1, "common unique"),
        (2, "common common common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in X.tfidf_top_terms(df, k=2).collect()
    }
    assert top[(0, 1)] == ("rare", 2, 1)      # tf=2, df=1 beats common
    assert top[(0, 2)][0] == "common"
    assert top[(1, 1)] == ("unique", 1, 1)
    # doc 2 has only the df=N term: idf = ln(1) = 0, still emitted, rank 1
    assert top[(2, 1)] == ("common", 3, 3)


def test_hash_split_deterministic_and_stable(spark):
    """Same id -> same split regardless of which corpus it sits in; the
    90/5/5 proportions hold loosely; buckets are within [0, 10000)."""
    a = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    b = spark.range(1000, 1200).withColumnRenamed("id", "doc_id")
    sa = {r["doc_id"]: (r["bucket"], r["split"])
          for r in X.hash_split(a, id_col="doc_id").collect()}
    sb = {r["doc_id"]: (r["bucket"], r["split"])
          for r in X.hash_split(b, id_col="doc_id").collect()}
    assert all(sa[k] == sb[k] for k in sb)    # membership is row-local
    assert all(0 <= v[0] < 10000 for v in sa.values())
    frac_train = sum(v[1] == "train" for v in sa.values()) / len(sa)
    assert 0.85 < frac_train < 0.95
    # sequential integer ids must still populate ALL splits (a rolling
    # hash fails this: consecutive ids -> consecutive buckets)
    assert {v[1] for v in sa.values()} == {"train", "val", "test"}
    # different salt -> a different split
    alt = {r["doc_id"]: r["split"]
           for r in X.hash_split(a, salt="v2").collect()}
    assert any(alt[k] != sa[k][1] for k in alt)


def test_semantic_dedup_drop_rule(spark):
    """Hand-built corpus: identical vectors land in one cell and every
    one but the smallest id drops; an orthogonal vector survives. The
    drop rule is 'exists a smaller-id in-cell neighbor >= t'."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),     # dup of 0 -> dropped
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal -> kept
        (4, [0.0, 0.0, 1.0, 0.0]),     # orthogonal -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["is_kept"]
        for r in S.semantic_dedup(emb, n_cells=3, threshold=0.95).collect()
    }
    assert got == {0: True, 1: False, 2: False, 3: True, 4: True}
    # every vector appears exactly once in the output
    assert len(got) == len(rows)


def test_vocab_coverage_spec(spark):
    """Counts, rank tiebreak (count desc then word asc), and the running
    coverage fraction against a hand-computed corpus."""
    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a b d")], "doc_id long, text string"
    )
    # counts: a=4, b=3, c=1, d=1 (total 9); ties c/d break alphabetically
    rows = X.vocab_coverage(df, k=3).collect()
    assert [(r["rank"], r["word"], r["n_occurrences"]) for r in rows] == [
        (1, "a", 4), (2, "b", 3), (3, "c", 1),
    ]
    cov = [r["coverage"] for r in rows]
    assert cov == [4 / 9, 7 / 9, 8 / 9]


def test_duplicate_span_removal_semantics(spark):
    """Rewrite-form exact-substring dedup (d13): cross-doc duplicated
    n-gram occurrences cover their full span; within-doc repetition is
    NOT a dedup target; short docs pass through; the boilerplate valve
    excludes ultra-common grams from removal."""
    from liq_stream_spark.operators.dedup import duplicate_span_removal

    rows = [
        (0, "a b c d e f"),     # shares "a b c" with doc 1 -> pos 0..2 go
        (1, "x y a b c q"),     # -> pos 2..4 go
        (2, "r r r r"),         # "r r r" repeats only WITHIN this doc
        (3, "p q"),             # shorter than n: no grams
        (4, ""),                # empty
        (5, "m m m"), (6, "m m m"), (7, "m m m"),  # df=3 boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["cleaned_text"])
        for r in duplicate_span_removal(df, n=3).collect()
    }
    assert got[0] == (6, 3, "d e f")
    assert got[1] == (6, 3, "x y q")
    assert got[2] == (4, 0, "r r r r")   # in-doc repeat kept
    assert got[3] == (2, 0, "p q")
    assert got[4] == (0, 0, "")
    assert got[5] == (3, 3, "")          # df=3 removed by default
    capped = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in duplicate_span_removal(df, n=3, max_doc_freq=2).collect()
    }
    assert capped[5] == 0                # valve: boilerplate NOT removed
    assert capped[0] == 3                # df=2 pair still removed


def test_prefix_filter_equals_inverted_index_and_prunes(spark):
    """ngram_jaccard_pairs_prefix must (a) return EXACTLY the d04 pair set
    at several thresholds and (b) generate strictly fewer candidate-join
    rows than the all-token inverted index (the point of the prefix)."""
    from pyspark.sql import functions as F

    from liq_stream_spark.operators.dedup import (
        char_ngram_hashes_fast,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.5, 0.7, 0.9):
        full = {
            (r["id_a"], r["id_b"], r["n_common"])
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], r["n_common"])
            for r in ngram_jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert pref == full, f"t={t}: {len(pref)} vs {len(full)}"
    # pruning: prefix token count is well below the full token count
    sh = docs.select(
        F.explode(
            F.array_distinct(char_ngram_hashes_fast("text", 3))
        ).alias("sh")
    )
    n_all = sh.count()
    # rebuild just the prefix selection the operator uses internally
    from pyspark.sql.window import Window as W

    shingles = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(char_ngram_hashes_fast("text", 3))
        ).alias("sh"),
    )
    dfreq = shingles.groupBy("sh").agg(F.count(F.lit(1)).alias("dfreq"))
    wdoc = W.partitionBy("doc_id")
    ranked = (
        shingles.join(dfreq, "sh")
        .withColumn("n_sh", F.count(F.lit(1)).over(wdoc))
        .withColumn(
            "rn",
            F.row_number().over(wdoc.orderBy(F.asc("dfreq"), F.asc("sh"))),
        )
    )
    n_prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_sh") - F.ceil(F.col("n_sh") * 0.7 - 1e-9) + 1
    ).count()
    assert 0 < n_prefix < 0.45 * n_all, (n_prefix, n_all)


def test_banded_keys_overconfigured_bands_match_long_form(spark):
    """bands*rows_per_band > k must NOT create a degenerate ''-key bucket
    (which would make every doc a candidate of every other): the
    array-form path drops past-the-end bands, exactly like the long-form
    groupBy which simply has no rows for them."""
    from liq_stream_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_banded,
        minhash_sig_arrays,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over a lazy dog"),
         (2, "entirely unrelated content about database engines"),
         (3, "the quick brown fox jumps over a lazy dog!")],
        "doc_id long, text string",
    )
    wide = minhash_sig_arrays(docs)
    longf = minhash_signatures(docs)
    # (3, 7): band 2's slice is PARTIAL (2 of 7 minhashes) — both paths
    # must key it on the short slice, not drop or pad it
    for bands, rpb in [(8, 4), (4, 4), (5, 3), (3, 7)]:
        got_rows = [
            tuple(r)
            for r in lsh_candidate_pairs_banded(
                wide, bands=bands, rows_per_band=rpb, max_bucket=None
            ).collect()
        ]
        got = set(got_rows)
        # the uncapped path emits each pair ONCE BY CONSTRUCTION (first
        # shared band) — no distinct hides a double emission
        assert len(got_rows) == len(got), (bands, rpb, got_rows)
        want = {
            tuple(r)
            for r in lsh_candidate_pairs(
                longf, bands=bands, rows_per_band=rpb, max_bucket=None
            ).collect()
        }
        assert got == want, (bands, rpb, got, want)
    # the near-identical pair must be found, the unrelated doc must not
    # pair with everything
    assert (1, 3) in got and (1, 2) not in got


def test_cosine_zero_vector_yields_null_not_error(spark):
    """Zero-magnitude embeddings must produce NULL cosine (dropping from
    pair/neighbor output) in BOTH the expression fallback and the Arrow
    path — under ANSI mode an unguarded x/0.0 aborts the whole job."""
    from liq_stream_spark.operators.similarity import cosine, cosine_fast

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 2.0]),
         (2, [1.0, 0.0], [1.0, 0.0])],
        "id long, a array<double>, b array<double>",
    )
    for fn in (cosine, cosine_fast):
        got = {r["id"]: r["c"] for r in
               df.select("id", fn("a", "b").alias("c")).collect()}
        assert got[1] is None, fn.__name__
        assert abs(got[2] - 1.0) < 1e-12, fn.__name__


def test_fingerprint_null_text_is_zero(spark):
    from liq_stream_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "ab"), (4, "abcd")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert got[1] == 0 and got[2] == 0 and got[3] == 0 and got[4] != 0


def test_containment_catches_embedded_doc(spark):
    from liq_stream_spark.operators.dedup import ngram_containment_pairs

    long_doc = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    )
    short_doc = "gamma delta epsilon zeta"  # wholly inside long_doc
    other = "totally unrelated content xyz"
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, other)],
        "doc_id long, text string",
    )
    rows = {
        (r["id_contained"], r["id_container"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.9).collect()
    }
    # the short doc is contained in the long one, not vice versa
    assert (2, 1) in rows and rows[(2, 1)] >= 0.9
    assert (1, 2) not in rows
    assert not any(3 in k for k in rows)


def test_banded_chunked_expansion_matches_long_form(spark):
    """The chunk-parallel expansion must emit the long-form pair set
    exactly once for ANY chunk size: chunk=1 forces every pair through
    the cross-slice arm, chunk >= bucket size forces the single-slice
    triangle arm, and the in-between sizes mix both (including partial
    final slices). The corpus plants a template family large enough to
    span many slices so the degenerate-bucket path really executes."""
    from liq_stream_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_banded,
        minhash_sig_arrays,
        minhash_signatures,
    )

    rows = [(i, f"shared boilerplate template text block number {i % 3}")
            for i in range(17)]
    rows += [(100 + i, f"unique content {i} with nothing in common "
              f"beyond words {i * 7} and {i * 13}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wide = minhash_sig_arrays(docs)
    want_rows = [
        tuple(r)
        for r in lsh_candidate_pairs(
            minhash_signatures(docs), max_bucket=None
        ).collect()
    ]
    want = set(want_rows)
    assert len(want) >= 17 * 16 // 6  # the template family really pairs
    for chunk in (1, 2, 3, 5, 16, 17, 1000):
        got_rows = [
            tuple(r)
            for r in lsh_candidate_pairs_banded(
                wide, max_bucket=None, chunk=chunk
            ).collect()
        ]
        # exactly-once: no distinct hides a double emission
        assert len(got_rows) == len(set(got_rows)), chunk
        assert set(got_rows) == want, chunk
        assert all(a < b for a, b in got_rows), chunk


def test_banded_fused_min_agree_matches_join_verification(spark):
    """min_agree fuses the MinHash-estimate verification into the pair
    expansion (r13: d14's two signature re-joins removed). The fused
    output must equal minhash_jaccard_estimates(sigs, candidates)
    .filter(n_agree >= bar) EXACTLY — same pairs, exactly-once — for
    every bar regime (0 = everything, the d14 semantic bar, k+1 =
    nothing) and across chunk sizes (triangle arm, cross-slice arm,
    partial final slices)."""
    from liq_stream_spark.operators.dedup import (
        lsh_candidate_pairs_banded,
        minhash_jaccard_estimates,
        minhash_sig_arrays,
    )

    rows = [(i, f"shared boilerplate template text block number {i % 3}")
            for i in range(17)]
    rows += [(100 + i, f"unique content {i} with nothing in common "
              f"beyond words {i * 7} and {i * 13}") for i in range(6)]
    rows += [(200, ""), (201, "ab")]  # sentinel-signature (short) docs
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wide = minhash_sig_arrays(docs)
    cand = lsh_candidate_pairs_banded(wide, max_bucket=None)
    est = minhash_jaccard_estimates(wide, cand)
    for bar in (0, 8, 17):
        want = {
            tuple(r)
            for r in est.filter(F.col("n_agree") >= bar)
            .select("id_a", "id_b")
            .collect()
        }
        for chunk in (1, 3, 256):
            got_rows = [
                tuple(r)
                for r in lsh_candidate_pairs_banded(
                    wide, max_bucket=None, chunk=chunk, min_agree=bar
                ).collect()
            ]
            # exactly-once emission survives the fused filter
            assert len(got_rows) == len(set(got_rows)), (bar, chunk)
            assert set(got_rows) == want, (bar, chunk)
    # the capped path cannot fuse — it must refuse, not silently ignore
    with pytest.raises(ValueError, match="min_agree"):
        lsh_candidate_pairs_banded(wide, max_bucket=100, min_agree=8)


def test_banded_degenerate_bucket_expansion_spreads(spark):
    """The chunked expansion's point: a degenerate bucket's O(n^2) pair
    generation must not serialize into the one task that owns its
    (band, key). 600 near-identical docs collapse into one LSH bucket
    (~180k pairs); with chunk=64 the expansion runs after a round-robin
    repartition, so the max share of emitted pairs in any one physical
    partition stays bounded — measured via spark_partition_id() on the
    expansion output (no exchange sits between the expansion and the
    output). AQE coalescing is disabled for the measurement (it merges
    small test-sized shuffles back to one partition — the r6 lesson)."""
    from liq_stream_spark.operators.dedup import (
        lsh_candidate_pairs_banded,
        minhash_sig_arrays,
    )

    docs = spark.createDataFrame(
        [(i, "identical boilerplate body shared by every document")
         for i in range(600)],
        "doc_id long, text string",
    )
    conf = spark.conf
    saved = conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        pairs = lsh_candidate_pairs_banded(
            minhash_sig_arrays(docs), max_bucket=None, chunk=64
        )
        spread = (
            pairs.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        total = sum(r["n"] for r in spread)
        assert total == 600 * 599 // 2
        max_share = max(r["n"] for r in spread) / total
        assert len(spread) > 1
        assert max_share < 0.30, (
            f"degenerate bucket concentrated: max task holds "
            f"{max_share:.0%} of pairs across {len(spread)} tasks"
        )
    finally:
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)


def test_minhash_estimate_bar_regime():
    """The corpus-size-aware verification bar (VERDICT r10 item 1 — the
    2M-doc stress finding, owned by the operator): the semantic 8/16 bar
    (est >= 0.5) up to the 400k-doc boundary, then the locked-band
    majority bar 4 + ceil(2*12/3) = 12/16 above it. Pinned AT the
    boundary on both sides, plus geometry scaling and the guards."""
    bar = D.minhash_estimate_bar

    # fixture scale and the boundary itself keep d14's oracle bar
    assert bar(6) == 8
    assert bar(60_000) == 8
    assert bar(399_999) == 8
    assert bar(400_000) == 8  # boundary is inclusive
    # one past the boundary: the chained-merge regime demands 12/16
    assert bar(400_001) == 12
    assert bar(2_000_000) == 12  # the measured probe scale
    # never exceeds the permutation count, never drops below the
    # semantic bar
    assert bar(10**9, n_perms=16) == 12
    # locked 4 + ceil(2*4/3) = 7 of 8 — inside the permutation cap
    assert bar(10**9, n_perms=8, bands=2, rows_per_band=4) == 7
    assert bar(100, n_perms=16, target_est=0.9) == 15  # ceil(14.4)
    # other geometries: 32 perms, 8 bands x 4 rows -> locked 4, free 28,
    # majority ceil(56/3)=19 -> 23 above the boundary, 16 below
    assert bar(100, n_perms=32, bands=8, rows_per_band=4) == 16
    assert bar(10**6, n_perms=32, bands=8, rows_per_band=4) == 23
    # misconfigured banding is refused, not silently accepted
    with pytest.raises(ValueError):
        bar(100, n_perms=16, bands=5, rows_per_band=4)
    with pytest.raises(ValueError):
        bar(100, rows_per_band=0)


def test_connected_components_large_graph_regime_identical(spark):
    """r14: _cc_loop propagates only CHANGED labels per round (delta),
    broadcast-hints the label-sized join sides when the exact node
    count fits the session broadcast threshold, and in the LARGE
    regime re-pins the edge list sorted+persisted after round 1.
    Forcing the large regime (auto-broadcast disabled) must produce
    identical components — this drives the SMJ + re-pin path the
    fixture's small graphs never exercise."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)]
        + [(i, i + 2) for i in range(0, 30, 3)]
        + [(100, 101), (101, 102), (50, 50)],
        "id_a long, id_b long",
    )
    want = {
        r["node"]: r["comp"] for r in D.connected_components(pairs).collect()
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = {
            r["node"]: r["comp"]
            for r in D.connected_components(pairs).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want
