"""Property-based tests (hypothesis) for the engine's core invariants, plus
the IVF ANN recall check. Examples are capped small — each example runs Spark
jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.operators import similarity
from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
    latest_wins,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
    tokenize_query,
)

from .conftest import SF_DIR

_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),      # key
            st.integers(0, 50),     # ts
            st.integers(0, 10**6),  # unique-ish payload
        ),
        min_size=1,
        max_size=30,
    )
)
@_SET
def test_latest_wins_matches_python_reference(spark, rows):
    """latest_wins == max-by-(ts, uid) per key, computed independently."""
    df = spark.createDataFrame(
        [(k, t, u) for k, t, u in rows], "k long, t long, u long"
    )
    got = {
        r["k"]: (r["t"], r["u"])
        for r in latest_wins(df, ["k"], "t", ["u"]).collect()
    }
    want: dict[int, tuple[int, int]] = {}
    for k, t, u in rows:
        if k not in want or (t, u) > want[k]:
            want[k] = (t, u)
    assert got == want


@given(
    text=st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs")),
        max_size=80,
    )
)
@_SET
def test_tokenizer_jvm_python_agree(spark, text):
    """The JVM analyzer and the driver-side query tokenizer agree on any
    input — guarantees query terms hit index terms."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.functions.text import (
        tokenize_normalized,
    )

    jvm = spark.createDataFrame([(text,)], "t string").select(
        tokenize_normalized(F.lower(F.col("t"))).alias("tk")
    ).first()["tk"]
    assert jvm == tokenize_query(text)


@given(st.integers(0, 40), st.integers(1, 15))
@_SET
def test_pagination_window_equivalence(spark, offset, limit):
    """paginate(offset, limit) == orderBy.limit(offset+limit) minus the first
    offset rows, for any page geometry."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.topk import (
        paginate,
    )

    e = load_table(spark, SF_DIR, "events").limit(60)
    order = [F.col("ts"), F.col("event_id")]
    page = [r["event_id"] for r in paginate(e, order, offset, limit).collect()]
    full = [
        r["event_id"]
        for r in e.orderBy(*order).limit(offset + limit).select("event_id").collect()
    ]
    assert page == full[offset:]


def test_ivf_recall_vs_exact(spark):
    """IVF with nprobe=4/16 centroids must recover >= 2 of the exact top-5
    (recall floor for the fixture corpus; exact scorer is the rerank path)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = {
        r["vec_id"]
        for r in similarity.cosine_topk(emb, qvec, k=5, exclude_ids=[0]).collect()
    }
    approx = {
        r["vec_id"]
        for r in similarity.ivf_topk_df(emb, q, k=5, nprobe=4, exclude_ids=[0]).collect()
    }
    assert len(exact & approx) >= 2, (exact, approx)


def test_ivf_assignment_partitions_corpus(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    assigned = similarity.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    n_lists = assigned.select("cent_id").distinct().count()
    assert 1 < n_lists <= 8


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 40)),  # (id, n_tokens)
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(2, 64),
)
@_SET
def test_pack_sequences_python_reference(spark, docs, budget):
    """pack_sequences == the sequential concatenate-and-chunk reference
    computed in Python over the same md5 order, for arbitrary corpora."""
    import hashlib

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in docs],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.shard, r.seq_id, r.tok_start, r.n_tokens, r.n_seqs)
        for r in pack_sequences(df, budget=budget, shards=4).collect()
    }

    def h(i: int) -> int:
        return int(hashlib.md5(f"{i}pack".encode()).hexdigest()[:15], 16)

    want = {}
    streams: dict[int, int] = {}
    for i, n in sorted(((i, n) for i, n in docs if n > 0), key=lambda t: (h(t[0]) % 4, h(t[0]), t[0])):
        shard = h(i) % 4
        start = streams.get(shard, 0)
        end = start + n
        want[i] = (
            shard,
            start // budget,
            start % budget,
            n,
            (end - 1) // budget - start // budget + 1,
        )
        streams[shard] = end
    assert got == want


@given(
    ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=30, unique=True),
    shards=st.integers(1, 8),
)
@_SET
def test_corpus_shuffle_is_permutation(spark, ids, shards):
    """Every id appears exactly once; positions are dense per shard; the
    assignment equals the Python md5 reference."""
    import hashlib

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        corpus_shuffle,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: (r.shard, r.pos) for r in corpus_shuffle(df, shards=shards).collect()}

    def h(i: int) -> int:
        return int(hashlib.md5(f"{i}shuffle".encode()).hexdigest()[:15], 16)

    want = {}
    by_shard: dict[int, list[int]] = {}
    for i in ids:
        by_shard.setdefault(h(i) % shards, []).append(i)
    for shard, members in by_shard.items():
        members.sort(key=lambda i: (h(i), i))
        for pos, i in enumerate(members, start=1):
            want[i] = (shard, pos)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 10**6)),  # (key, row_id)
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],
    ),
    n_salts=st.integers(1, 5),
)
@_SET
def test_salted_join_equivalence_property(spark, rows, n_salts):
    """salted_join == plain join for arbitrary key distributions (including
    all-one-hot-key inputs) and any salt count."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        salted_join,
    )

    big = spark.createDataFrame(rows, "k long, rid long")
    small = spark.createDataFrame([(i, f"v{i}") for i in range(4)], "k long, v string")
    plain = sorted(map(tuple, big.join(small, "k", "left").collect()))
    salted = sorted(
        map(tuple, salted_join(big, small, "k", "rid", n_salts, "left").collect())
    )
    assert salted == plain


@given(
    keys=st.lists(st.integers(0, 20), min_size=1, max_size=40),
)
@_SET
def test_cms_never_undercounts_property(spark, keys):
    """CMS estimate >= true count for every key, on arbitrary multisets."""
    from collections import Counter

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import sketches

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    cms = sketches.cms_build(df, "k", depth=3, width=16)
    est = {
        r["k"]: r["est"]
        for r in sketches.cms_estimate(
            cms, df.select("k").distinct(), "k", depth=3, width=16
        ).collect()
    }
    true = Counter(keys)
    assert all(est[k] >= c for k, c in true.items())


@given(
    vals=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False, width=32),
        min_size=2,
        max_size=24,
    )
)
@_SET
def test_quantize_roundtrip_bound_property(spark, vals):
    """int8 quantization reconstruction error <= scale/2 for arbitrary
    float32 vectors (incl. constant vectors, where scale is 0 and the
    reconstruction is exact)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import similarity as sim

    df = spark.createDataFrame([(0, vals)], "vec_id long, embedding array<float>")
    row = sim.dequantize_int8(sim.quantize_int8(df)).collect()[0]
    scale = row["scale"]
    orig = [float(x) for x in df.collect()[0]["embedding"]]  # float32-rounded
    err = max(abs(a - b) for a, b in zip(row["approx"], orig))
    assert err <= scale / 2 + 1e-9


@given(
    members=st.lists(st.integers(0, 10**6), min_size=1, max_size=40),
    probes=st.lists(st.integers(0, 10**6), min_size=1, max_size=40),
)
@_SET
def test_bloom_never_false_negative_property(spark, members, probes):
    """For ANY member/probe sets: every member passes (no false negatives),
    and a failing probe is NEVER a member (fails ⇒ truly absent)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    m = spark.createDataFrame([(v,) for v in members], ["k"])
    p = spark.createDataFrame([(v,) for v in set(probes) | set(members)], ["k"])
    bits = bloom_build(m, "k", m_bits=1024, k=3)
    out = {r["k"]: r["bloom_pass"] for r in bloom_probe(bits, p, "k", m_bits=1024, k=3).collect()}
    mem = set(members)
    assert all(out[v] for v in mem)
    assert all(v not in mem for v, ok in out.items() if not ok)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10000)),  # (user, start)
        min_size=1,
        max_size=30,
    )
)
@_SET
def test_interval_merge_islands_disjoint_and_cover(spark, rows):
    """For ANY span set: per-user islands are non-overlapping, ordered,
    separated by real gaps (> span), and their event counts sum to the
    input row count."""
    from pyspark.sql import Window

    span = 100
    df = spark.createDataFrame(
        [(u, i, s, s + span) for i, (u, s) in enumerate(rows)],
        ["user_id", "event_id", "s", "e"],
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = df.withColumn(
        "ni", F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    )
    islands = (
        flagged.withColumn(
            "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("user_id", "island")
        .agg(F.min("s").alias("a"), F.max("e").alias("b"), F.count("*").alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in islands) == len(rows)
    by_user = {}
    for r in islands:
        by_user.setdefault(r["user_id"], []).append(r)
    for spans in by_user.values():
        spans.sort(key=lambda r: r["island"])
        for prev, cur in zip(spans, spans[1:]):
            assert cur["a"] > prev["b"]  # real gap between islands


def test_triangle_count_complete_graph(spark):
    """K_6 has C(6,3)=20 triangles, 15 edges, 6*C(5,2)=60 triplets,
    clustering exactly 1.0."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.graph import (
        triangle_stats,
    )

    edges = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    row = triangle_stats(
        spark.createDataFrame(edges, ["doc_a", "doc_b"])
    ).collect()[0]
    assert row["n_edges"] == 15
    assert row["n_triangles"] == 20
    assert row["n_triplets"] == 60
    assert row["clustering"] == 1.0


def _bpe_reference(texts: list[str], rounds: int):
    """Pure-Python textbook BPE on the word-frequency table — an
    implementation independent of both the Spark operator and its SQL
    oracle (leftmost-non-overlapping merge, lexicographic tie-break)."""
    import re
    from collections import Counter

    words: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            w = re.sub(r"[^a-z0-9]", "", w.lower())
            if w:
                words[w] += 1
    sym_of = {w: tuple("_" + c for c in w) for w in words}
    merges = []
    for r in range(1, rounds + 1):
        pairs: Counter = Counter()
        for w, wc in words.items():
            s = sym_of[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += wc
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), freq = best
        merged = a + b[1:]
        merges.append((r, f"{a} {b}", merged, freq))
        for w, s in sym_of.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            sym_of[w] = tuple(out)
    return merges, sym_of


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=1, max_size=24),
        min_size=1,
        max_size=8,
    ),
    rounds=st.integers(1, 3),
)
@_SET
def test_bpe_matches_python_reference(spark, texts, rounds):
    """Triangulation: Spark BPE vs a pure-Python textbook implementation
    (the DuckDB oracle is the third, SQL-unrolled derivation). Tiny 'ab x'
    alphabet maximizes merge collisions, overlap runs ('aaaa'), and ties."""
    import re

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.textstats import (
        bpe_encode_stats,
        bpe_merge_table,
    )

    want, sym_of = _bpe_reference(texts, rounds)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["round"], r["pair"], r["merged"], r["freq"])
        for r in bpe_merge_table(df, rounds=rounds).collect()
    ]
    assert got == want[: len(got)]
    # fewer rows than rounds only when the corpus ran out of pairs
    if len(got) < rounds:
        assert len(want) < rounds or not want

    # encode half: per-doc word/BPE-symbol counts vs the same reference
    expect = {}
    for i, t in enumerate(texts):
        ws = [re.sub(r"[^a-z0-9]", "", w.lower()) for w in t.split(" ")]
        ws = [w for w in ws if w]
        if ws:
            expect[i] = (len(ws), sum(len(sym_of[w]) for w in ws))
    enc = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode_stats(df, rounds=rounds).collect()
    }
    assert enc == expect


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    ),
    k=st.integers(2, 4),
)
@_SET
def test_repeated_spans_invariants(spark, docs, k):
    """Every reported span: (1) is at least k tokens, (2) merges maximal —
    no two spans of one doc touch or overlap, and no repeated window
    extends the span outward, (3) every TOKEN inside it is covered by a
    k-window occurring in >= 2 distinct docs (token-coverage semantics —
    touching windows fuse across a non-repeated window start), and the
    reported spans are exactly the coverage runs an independent Python
    scan computes."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        repeated_spans,
    )

    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    spans = repeated_spans(df, k=k, min_docs=2).collect()

    from collections import defaultdict

    gram_docs = defaultdict(set)
    for i, d in enumerate(docs):
        for p in range(len(d) - k + 1):
            gram_docs[tuple(d[p:p + k])].add(i)

    # independent reference: 1-indexed covered-token runs per doc
    want = defaultdict(list)
    for i, d in enumerate(docs):
        covered = set()
        for p in range(len(d) - k + 1):
            if len(gram_docs[tuple(d[p:p + k])]) >= 2:
                covered.update(range(p + 1, p + k + 1))
        run = None
        for t in range(1, len(d) + 2):
            if t in covered:
                run = (run[0], t) if run else (t, t)
            elif run:
                want[i].append(run)
                run = None

    got = defaultdict(list)
    for r in spans:
        got[r["doc_id"]].append((r["span_start"], r["span_end"]))
        assert r["span_tokens"] == r["span_end"] - r["span_start"] + 1 >= k
    for doc_id in got:
        got[doc_id].sort()
    assert dict(got) == dict(want)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    tokens=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                    min_size=1, max_size=10),
    dictionary=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                        min_size=1, max_size=8, unique=True),
)
@_SET
def test_spell_correct_matches_bruteforce(spark, tokens, dictionary):
    """Triangulation: the SymSpell delete-key join must find EXACTLY the
    lev<=1 dictionary candidates brute force finds (the delete-1 keys
    cover substitution/insertion/deletion; transpositions are lev 2 and
    must be filtered), with the (dist, word) tie-break."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.textstats import (
        spell_correct,
    )

    df = spark.createDataFrame([(0, " ".join(tokens))], "doc_id long, text string")
    got = {
        r["pos"]: (r["token"], r["corrected"])
        for r in spell_correct(df, dictionary).collect()
    }
    for pos, tok in enumerate(tokens):
        cands = sorted(
            (( _lev(tok, w), w) for w in dictionary if _lev(tok, w) <= 1),
        )
        want = cands[0][1] if cands else tok
        assert got[pos] == (tok, want), (pos, tok, cands)
    assert len(got) == len(tokens)


def _winnow_ref(text: str, k: int, w: int) -> set:
    """Textbook winnowing (Schleimer et al. MOSS): clean, hash every k-char
    gram (md5-prefix int64, the engine's hash), min per sliding window of
    w grams; short docs (with >= 1 gram) yield the global min."""
    import hashlib
    import re

    ct = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", "", text.lower())).strip()
    n = len(ct)
    if n < k:
        return set()
    grams = [
        int(hashlib.md5(ct[i:i + k].encode()).hexdigest()[:15], 16)
        for i in range(n - k + 1)
    ]
    if len(grams) < w:
        return {min(grams)}
    return {min(grams[i:i + w]) for i in range(len(grams) - w + 1)}


@given(
    texts=st.lists(
        st.text(alphabet="ab c.A!", min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
)
@_SET
def test_winnowing_matches_python_reference(spark, texts):
    """Triangulation: Spark sliding-window winnowing vs the textbook Python
    implementation (the DuckDB oracle is the SQL third derivation). The
    alphabet mixes case/punct/spaces to exercise the clean chain, and
    lengths straddle the short-doc (< one window) boundary."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.textstats import (
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(df, k=3, window=2).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    want = {
        i: fps
        for i, t in enumerate(texts)
        if (fps := _winnow_ref(t, 3, 2))
    }
    assert got == want


@given(
    raw_edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=16,
    ),
    iters=st.integers(1, 3),
)
@_SET
def test_pagerank_matches_python_reference(spark, raw_edges, iters):
    """Triangulation: the distributed integer PageRank vs an independent
    Python implementation of the same exact-arithmetic spec (truncating
    div everywhere, micro-unit mass) on arbitrary small graphs — the SQL
    oracle shares the unrolled formula, this does not share the join/agg
    mechanics."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.graph import (
        SCALE,
        pagerank_int,
    )

    edges = sorted({(a, b) for a, b in raw_edges if a < b})
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["rank"] for r in pagerank_int(pairs, iters=iters).collect()}

    und = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    nodes = sorted({a for a, _ in und})
    deg = {a: sum(1 for x, _ in und if x == a) for a in nodes}
    n = len(nodes)
    base = (15 * (SCALE // n)) // 100
    rank = {a: SCALE // n for a in nodes}
    for _ in range(iters):
        inc = {a: 0 for a in nodes}
        for a, b in und:
            inc[b] += rank[a] // deg[a]
        rank = {a: base + (85 * inc[a]) // 100 for a in nodes}
    assert got == rank


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=1, max_size=24),
        min_size=2,
        max_size=6,
    ),
)
@_SET
def test_simhash_near_dups_match_python_all_pairs(spark, texts):
    """Triangulation: the pigeonhole block self-join must return EXACTLY the
    pairs a brute-force all-pairs Python scan finds at hamming <= 3 — the
    subtle property is completeness (a pair within distance h must share
    at least one exact chunk), which the SQL oracle derives the same way
    but this reference does not."""
    import hashlib
    import re

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        simhash_near_dups,
    )

    def sh_ref(t: str) -> int | None:
        toks = [re.sub(r"[^a-z0-9]", "", w.lower()) for w in t.split(" ")]
        toks = [w for w in toks if w]
        if not toks:
            return None
        tf: dict = {}
        for w in toks:
            tf[w] = tf.get(w, 0) + 1
        fp = 0
        for i in range(32):
            s = 0
            for w, c in tf.items():
                h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
                s += c if (h >> i) & 1 else -c
            if s > 0:
                fp |= 1 << i
        return fp

    fps = {i: sh_ref(t) for i, t in enumerate(texts)}
    want = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps
        for b in fps
        if a < b and fps[a] is not None and fps[b] is not None
        and bin(fps[a] ^ fps[b]).count("1") <= 3
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dups(df, max_hamming=3).collect()
    )
    assert got == want


@given(
    lvals=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                   min_size=1, max_size=8),
    rvals=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                   min_size=1, max_size=8),
)
@_SET
def test_fuzzy_join_matches_bruteforce(spark, lvals, rvals):
    """Triangulation: delete-key-blocked fuzzy join == brute-force all-pairs
    lev<=1 matching (completeness is the property blocking could break)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        fuzzy_join,
    )

    lf = spark.createDataFrame([(v,) for v in lvals], "name string")
    rf = spark.createDataFrame([(v,) for v in rvals], "alias string")
    got = sorted(
        (r["name"], r["alias"], r["dist"])
        for r in fuzzy_join(lf, rf, "name", "alias").collect()
    )
    want = sorted(
        {
            (a, b, _lev(a, b))
            for a in set(lvals)
            for b in set(rvals)
            if _lev(a, b) <= 1
        }
    )
    assert got == want


@given(
    lvals=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                   min_size=1, max_size=8),
    rvals=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                   min_size=1, max_size=8),
)
@_SET
def test_fuzzy_join_dist2_matches_bruteforce(spark, lvals, rvals):
    """max_dist=2 completeness: depth-2 delete-set blocking must find every
    lev<=2 pair brute force finds — including transpositions ('ab'->'ba'),
    double insertions, and mixed edits."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        fuzzy_join,
    )

    lf = spark.createDataFrame([(v,) for v in lvals], "name string")
    rf = spark.createDataFrame([(v,) for v in rvals], "alias string")
    got = sorted(
        (r["name"], r["alias"], r["dist"])
        for r in fuzzy_join(lf, rf, "name", "alias", max_dist=2).collect()
    )
    want = sorted(
        {
            (a, b, _lev(a, b))
            for a in set(lvals)
            for b in set(rvals)
            if _lev(a, b) <= 2
        }
    )
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["nav", "foot", "a", "b", "cc", "dd d"]),
                 min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    ),
    max_df=st.integers(1, 3),
)
@_SET
def test_dedup_lines_matches_python_reference(spark, docs, max_df):
    """Triangulation: inter-document line dedup (drop lines in > max_df
    docs, ordered reassembly) vs a direct Python reference — order
    preservation and duplicate-line-within-one-doc semantics (doc
    frequency counts distinct DOCS, not occurrences) are the subtle
    parts."""
    from collections import Counter

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        dedup_lines,
    )

    texts = ["\n".join(d) for d in docs]
    # reference lines via the same split convention both engines share:
    # an empty text is ONE empty line ("".split sep -> [""])
    split_docs = [t.split("\n") for t in texts]
    dfreq = Counter()
    for d in split_docs:
        for line in set(d):
            dfreq[line] += 1
    want = {}
    for i, d in enumerate(split_docs):
        kept = [ln for ln in d if dfreq[ln] <= max_df]
        want[i] = ("\n".join(kept), len(d), len(d) - len(kept))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["cleaned"], r["n_lines"], r["n_dropped"])
        for r in dedup_lines(df, max_doc_freq=max_df).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 120)),  # (user, epoch s)
        min_size=1,
        max_size=30,
    ),
    gap=st.integers(1, 20),
)
@_SET
def test_sessionize_matches_python_reference(spark, rows, gap):
    """Triangulation: gap-sum sessionize vs a direct Python splitter —
    session boundaries (strict >gap), tie-on-timestamp invariance, and
    per-session aggregates. The SQL oracle shares the gap-sum derivation;
    this reference does not."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        sessionize,
    )

    df = spark.createDataFrame(rows, "user_id long, t long").select(
        "user_id", F.col("t").cast("timestamp").alias("ts")
    )
    got = sorted(
        (r["user_id"], r["session_idx"], r["n_events"],
         int(r["session_start"].timestamp()), int(r["session_end"].timestamp()))
        for r in sessionize(df, gap_seconds=gap).collect()
    )
    by_user: dict[int, list[int]] = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)
    want = []
    for u, ts in by_user.items():
        ts.sort()
        idx, cur = 0, []
        for prev, t in zip([None] + ts[:-1], ts):
            if prev is None or t - prev > gap:
                if cur:
                    want.append((u, idx, len(cur), cur[0], cur[-1]))
                idx += 1
                cur = [t]
            else:
                cur.append(t)
        want.append((u, idx, len(cur), cur[0], cur[-1]))
    assert got == sorted(want)


@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 60), st.integers(0, 10**6)),
        min_size=1, max_size=15, unique_by=lambda t: t[2],
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 60), st.integers(0, 10**6)),
        min_size=1, max_size=15,
        unique_by=lambda t: (t[0], t[1]),  # unique right ts per key: ties
                                           # among right rows are unspecified
    ),
)
@_SET
def test_asof_join_matches_python_reference(spark, lrows, rrows):
    """Triangulation: the union + last-ignorenulls as-of join vs a direct
    per-row Python lookup (latest right.ts <= left.ts per key, >= tie goes
    to the right row) — the DuckDB ASOF oracle is engine number two; this
    reference shares no mechanics with either."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        as_of_join,
    )

    left = spark.createDataFrame(lrows, "k long, ts long, lid long")
    right = spark.createDataFrame(rrows, "k long, ts long, rval long")
    got = {
        r["lid"]: r["rval"]
        for r in as_of_join(left, right, "k", "ts", "ts", ["rval"]).collect()
    }
    want = {}
    for k, t, lid in lrows:
        cands = [(rt, rv) for rk, rt, rv in rrows if rk == k and rt <= t]
        want[lid] = max(cands)[1] if cands else None
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), max_size=12),
        min_size=1,
        max_size=8,
    )
)
@_SET
def test_repetition_fold_matches_python_counter(spark, docs):
    """The row-local max-run fold == collections.Counter most-common count,
    for unigrams AND bigrams, on arbitrary token arrays (including empties
    and all-identical runs). Pins the explode-free repetition_stats rewrite
    against an independent Python reference."""
    from collections import Counter

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, tk array<string>",
    )
    got = {
        r["doc_id"]: (
            r["s"]["n_tokens"],
            r["s"]["n_distinct"],
            r["s"]["top_token_frac"],
            r["s"]["top_bigram_frac"],
        )
        for r in df.select(
            "doc_id", repetition_signals(df["tk"]).alias("s")
        ).collect()
    }
    for i, toks in enumerate(docs):
        n = len(toks)
        uni = Counter(toks)
        bi = Counter(
            " ".join(toks[j : j + 2]) for j in range(n - 1)
        )
        want_ttf = (
            round(uni.most_common(1)[0][1] / n, 4) if n else None
        )
        want_tbf = (
            round(bi.most_common(1)[0][1] / (n - 1), 4) if n >= 2 else 0.0
        )
        assert got[i] == (n, len(uni), want_ttf, want_tbf), (i, toks)


@given(
    vals=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False, width=32),
        min_size=2,
        max_size=24,
    )
)
@_SET
def test_python_quantize_vec_matches_spark_property(spark, vals):
    """The driver-side per-vector quantize mirror (_python_quantize_vec —
    the static serving path's probe arithmetic, r6) must be CODE-IDENTICAL
    to the in-plan quantize_int8 for arbitrary float32 vectors, including
    constant vectors (all-zero codes) and sign-mixed extremes. A single
    differing code can flip a bucket bit and probe the wrong partitions."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        _python_quantize_vec,
        quantize_int8,
    )

    df = spark.createDataFrame([(0, vals)], "vec_id long, embedding array<float>")
    spark_codes = list(quantize_int8(df).collect()[0]["codes"])
    qv = [float(x) for x in df.collect()[0]["embedding"]]  # float32-rounded
    assert _python_quantize_vec(qv) == spark_codes


@given(reps=st.integers(1, 4))
@_SET
def test_derived_partsupp_invariants(spark, reps):
    """The derived partsupp (r6 TPC-H closure) must satisfy the dbgen
    contract at any scale: exactly 4 rows per part with 4 DISTINCT
    suppliers, every ps_suppkey a real supplier key, availqty in
    [1, 9999], supplycost in [1.00, 1000.99]. (reps is only entropy for
    example variety — the table is deterministic, so two builds must be
    identical row-for-row.)"""
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.extensions import (
        _derived_partsupp,
    )

    ps = _derived_partsupp(spark, SF_DIR)
    rows = ps.collect()
    supp_keys = {
        r["s_suppkey"]
        for r in load_table(spark, SF_DIR, "supplier").select("s_suppkey").collect()
    }
    n_parts = load_table(spark, SF_DIR, "part").count()
    assert len(rows) == 4 * n_parts
    by_part = {}
    for r in rows:
        by_part.setdefault(r["ps_partkey"], []).append(r)
        assert r["ps_suppkey"] in supp_keys
        assert 1 <= r["ps_availqty"] <= 9999
        assert 1.0 <= r["ps_supplycost"] <= 1000.99
    for pk, grp in by_part.items():
        assert len(grp) == 4 and len({g["ps_suppkey"] for g in grp}) == 4, pk
    again = _derived_partsupp(spark, SF_DIR).collect()
    key = lambda r: (r["ps_partkey"], r["ps_suppkey"])  # noqa: E731
    assert sorted(map(tuple, rows), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, again), key=lambda t: (t[0], t[1])
    )


def test_partsupp_step_distinct_all_counts():
    """The _derived_partsupp collision guard (ADVICE r6): offsets j*step
    mod S coincide iff d*step ≡ 0 mod S for d in 1..3, which for
    step=S//4+1 happens exactly at S in {4, 6, 9, 12} — the step then
    falls back to 1. This pure-arithmetic pin sweeps EVERY supplier count
    4..200 (the earlier docstring claimed distinctness for any S >= 8 and
    was false at 9 and 12), mirroring the Spark expression and the DuckDB
    CTE exactly, so a fixture at any count keeps the dbgen 4-distinct-
    suppliers contract."""
    for S in range(4, 201):
        step0 = S // 4 + 1
        step = 1 if (2 * step0) % S == 0 or (3 * step0) % S == 0 else step0
        offsets = {(j * step) % S for j in range(4)}
        assert len(offsets) == 4, (S, step, offsets)
