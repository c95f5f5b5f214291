"""How a registry query is declared, plus the helpers two or more families
share: the portable-rounding SQL renderers, the token/shingle/MinHash SQL,
the k-means/PQ SQL generators, the text-quality SQL expressions and the
persisted-index cache slots, and the one build path of the artifacts a
maintenance stream lays."""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Declared(NamedTuple):
    """One registry query: its Spark builder, its DuckDB oracle SQL (before
    the decimal→double wrapper) and its decimal output columns."""

    build: Callable[[SparkSession, str], DataFrame]
    sql: str
    dec: tuple[str, ...]


# every declared query, in declaration order (the order the registry
# package imports its family modules, then source order within each)
DECLARED: dict[str, Declared] = {}


def query(sql: str, dec: Sequence[str] = (), name: str | None = None):
    """Declare one query: its builder, its oracle SQL and its decimal
    output columns side by side. Decorate a top-level builder (the query
    takes the function's name), or call the result on an imported builder
    and pass ``name``."""

    def declare(build):
        key = name or build.__name__
        if key in DECLARED:
            raise ValueError(f"query {key!r} is declared twice")
        DECLARED[key] = Declared(build, sql, tuple(dec))
        return build

    return declare


def sql_of(name: str) -> str:
    """The oracle SQL already declared for ``name``, for a query whose
    oracle reuses another's verbatim or as a CTE."""
    return DECLARED[name].sql


# portable-rounding SQL renderers (mirror functions/money.py)
def _r2(e: str, p: int = 15) -> str:
    return f"CAST(FLOOR(({e}) * 100 + 0.5) / 100 AS DECIMAL({p},2))"


def _r6(e: str) -> str:
    return f"CAST(FLOOR(({e}) * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6))"


def _data_fingerprint(sf_dir: str, table: str) -> str:
    """md5 over the (name, size, mtime_ns) of a testdata table's parquet
    file(s) — keys the persisted-index caches under .indexes/ so a
    regenerated testdata directory can never serve a stale index."""
    import hashlib
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    bits = []
    for root, _dirs, files in os.walk(src):
        for fname in sorted(files):
            st = os.stat(os.path.join(root, fname))
            bits.append(f"{fname}:{st.st_size}:{st.st_mtime_ns}")
    if not bits:  # single-file parquet
        st = os.stat(src)
        bits.append(f"{os.path.basename(src)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(bits).encode()).hexdigest()[:12]


def _index_cache_dir(family: str, key: str, keep: int = 4) -> str:
    """Resolve (and bound) the persisted-index cache slot for one
    (family, fingerprinted-key). The cache must hold SEVERAL fingerprints
    at once — the driver alternates SFs within one round (sf0.001 smoke →
    sf0.01 correctness → sf0.1 bench) and evicting siblings eagerly would
    force a rebuild at every step, hiding the steady-state search cost
    the persisted queries exist to show. Instead keep the ``keep`` most
    recently used slots per family (LRU by directory mtime) so .indexes/
    stays bounded across testdata refreshes without intra-round churn.

    Relocation- and concurrency-safe (round-9): the cache root derives
    from ``__file__`` (not a hard-coded path), and eviction skips any
    entry touched within the last hour — a concurrent session (bench run
    alongside pytest) can be actively scanning a sibling fingerprint, and
    deleting it mid-query would fail that reader; an hour-old entry is a
    previous testdata generation no live query can be reading."""
    import os
    import shutil
    import time

    def _mtime(path: str) -> float:
        # a concurrent session may delete an entry between listdir and
        # stat (ADVICE r9); treat a vanished entry as already evicted:
        # returning "now" makes it look NEWEST (sorts last in the
        # mtime-ascending order AND fails the >1h grace), so it is
        # neither re-deleted nor does it fail the build (ADVICE r10
        # comment fix — the behavior was right, the explanation inverted)
        try:
            return os.path.getmtime(path)
        except OSError:
            return time.time()

    # the cache lives at the repo root, three levels above registry/shared.py
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    fam_dir = os.path.join(root, ".indexes", family)
    target = os.path.join(fam_dir, key)
    if os.path.isdir(target):
        # LRU touch-on-use (round-10 incident): eviction is mtime-ordered
        # with a 1h grace, but directory mtimes only change on WRITE — so
        # an index in active use could age past the grace and be evicted
        # by a SIBLING lookup in the same query (the federated search
        # locates shard s0, then s0 — now the oldest entry — is deleted
        # by s1's eviction pass before the lazy plan ever reads it).
        # Refreshing the target's mtime on every lookup makes "used just
        # now" and "young" the same thing, for this process and any
        # concurrent session alike.
        try:
            os.utime(target, None)
        except OSError:
            pass
    if os.path.isdir(fam_dir):
        others = [e for e in os.listdir(fam_dir) if e != key]
        if len(others) >= keep:
            now = time.time()
            by_age = sorted(others, key=lambda e: _mtime(os.path.join(fam_dir, e)))
            for entry in by_age[: len(others) - (keep - 1)]:
                if now - _mtime(os.path.join(fam_dir, entry)) > 3600.0:
                    shutil.rmtree(os.path.join(fam_dir, entry), ignore_errors=True)
    return target


@contextmanager
def _maintained_drain(
    art_dir: str,
    rows: DataFrame,
    id_col: str,
    process: Callable[[DataFrame, int], None],
) -> Iterator[bool]:
    """Build the stream-maintained artifact in ``art_dir`` once, through a
    real availableNow drain of ``process`` (a per-batch maintenance
    function). Yields False when the ``_MAINTAINED`` marker shows a
    finished build. Otherwise it empties ``art_dir`` first — a partial
    prior attempt leaves a checkpoint whose offsets name source files the
    staging below replaces, so resuming it would re-ingest and corrupt the
    artifact — and yields True, so the block can lay any state the drain
    needs. On leaving the block it stages the even and odd ``id_col``
    halves of ``rows`` as two files under ``_source`` (two micro-batches
    at maxFilesPerTrigger=1), drains them, and writes the marker only
    after the drain finished: a timed-out drain raises and never caches a
    partial artifact as complete."""
    import os
    import shutil

    from data_warehouse_punta_fina_spark.streaming.file_stream import (
        drain,
        read_file_stream,
    )

    marker = os.path.join(art_dir, "_MAINTAINED")
    if os.path.exists(marker):
        yield False
        return
    for sub in os.listdir(art_dir) if os.path.isdir(art_dir) else []:
        shutil.rmtree(os.path.join(art_dir, sub), ignore_errors=True)
    yield True
    src = os.path.join(art_dir, "_source")
    half = F.col(id_col) % 2
    rows.filter(half == 0).coalesce(1).write.mode("overwrite").parquet(src)
    rows.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
    stream = read_file_stream(rows.sparkSession, src, rows.schema, max_files_per_trigger=1)
    q = drain(stream, os.path.join(art_dir, "_ckpt"), process)
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"maintenance drain into {art_dir!r} did not finish within 300s")
    with open(marker, "w") as fh:
        fh.write("ok")


_TOKENS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

_SHINGLES = f"""
CASE WHEN len({_TOKENS}) >= 3
     THEN list_distinct([array_to_string(({_TOKENS})[j:j+2], ' ') FOR j IN generate_series(1, len({_TOKENS}) - 2)])
     ELSE [array_to_string({_TOKENS}, ' ')]
END
"""

_QUANT_VEC = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"


def _hex13(expr: str) -> str:
    """13 hex chars → BIGINT (range 2^52, exactly representable as a
    double) — the oracle twin of operators.sampling's conv(substr(md5,
    1, 13), 16, 10). Same digit-by-digit integer shifts as _hex56."""
    return (
        "list_sum(list_transform(range(1, 14), j -> "
        f"CAST(strpos('0123456789abcdef', substr({expr}, j, 1)) - 1 AS BIGINT)"
        " * (CAST(1 AS BIGINT) << (4 * (13 - j)))))"
    )


def _hex56(expr: str) -> str:
    """14 hex chars → BIGINT, digit-by-digit with integer shifts (DuckDB
    has no base-16 string→int cast; float powers would lose exactness
    past 2^53). Mirrors Spark's conv(substr(md5,…,14), 16, 10)."""
    return (
        "list_sum(list_transform(range(1, 15), j -> "
        f"CAST(strpos('0123456789abcdef', substr({expr}, j, 1)) - 1 AS BIGINT)"
        " * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )


# MinHash signatures: ONE md5 per shingle, k permutations derived as
# (h1 + i·h2) mod 2^56 from the digest halves (Kirsch-Mitzenmacher) —
# mirrors operators.dedup.minhash_signatures exactly (MINHASH_MOD).
_MINHASH_SIG_CTES = f"""sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), hh AS (
  SELECT doc_id, {_hex56("substr(md5(shingle), 1, 14)")} AS h1,
         {_hex56("substr(md5(shingle), 17, 14)")} AS h2
  FROM sh
), sig AS (
  SELECT doc_id, i, MIN((h1 + i * h2) % 72057594037927936) AS h
  FROM hh CROSS JOIN range(12) t(i)
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, CAST(FLOOR(i / 3) AS INT) AS band,
         string_agg(CAST(h AS VARCHAR), '|' ORDER BY i) AS band_key
  FROM sig GROUP BY doc_id, CAST(FLOOR(i / 3) AS INT)
)"""

_MINHASH_PAIRS_SQL = f"""
WITH {_MINHASH_SIG_CTES}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _cosine_sql(qa: str, ca: str) -> str:
    dot = f"CAST(list_sum(list_transform(generate_series(1, 64), i -> {qa}[i] * {ca}[i])) AS DOUBLE)"
    na = f"CAST(list_sum(list_transform(generate_series(1, 64), i -> {qa}[i] * {qa}[i])) AS DOUBLE)"
    nb = f"CAST(list_sum(list_transform(generate_series(1, 64), i -> {ca}[i] * {ca}[i])) AS DOUBLE)"
    return _r6(f"{dot} / sqrt({na} * {nb})")


def _kmeans_cells_sql(n_centroids: int, iters: int, train_filter: str | None = None) -> list[str]:
    """Shared CTE chain: Lloyd iterations unrolled, ending in ``af`` =
    (vec_id, qv, cid) final cell assignments. Distances are exact BIGINT
    sums (no float order dependence); centroid means round to int64 via
    floor((2s+n)/(2n)) — mirrors operators.similarity.kmeans_fit.

    ``train_filter`` restricts the TRAINING rows (seeds + Lloyd updates)
    to a predicate over ``v`` while the final ``df``/``af`` assignment
    still covers every vector — the twin of building a persisted index
    on a base corpus and encode-only appending the rest
    (operators.similarity.ivfpq_append_index)."""

    def dist(qv: str, cv: str) -> str:
        return (
            "list_sum(list_transform(generate_series(1, 64), "
            f"i -> ({qv}[i] - {cv}[i]) * ({qv}[i] - {cv}[i])))"
        )

    vt = "vt" if train_filter else "v"
    parts = [
        f"v AS (SELECT vec_id, {_QUANT_VEC} AS qv FROM embeddings)",
    ]
    if train_filter:
        parts.append(f"vt AS (SELECT * FROM v WHERE {train_filter})")
    parts.append(
        f"c0 AS (SELECT vec_id AS cid, qv AS cv FROM {vt} ORDER BY vec_id LIMIT {n_centroids})"
    )
    prev = "c0"
    for it in range(1, iters + 1):
        parts += [
            f"d{it} AS (SELECT {vt}.vec_id, {vt}.qv, {prev}.cid, {dist(vt + '.qv', prev + '.cv')} AS dist "
            f"FROM {vt} CROSS JOIN {prev})",
            f"a{it} AS (SELECT vec_id, qv, cid FROM d{it} "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)",
            f"u{it} AS (SELECT cid, i, SUM(qv[i]) AS s, COUNT(*) AS n "
            f"FROM a{it} CROSS JOIN range(1, 65) t(i) GROUP BY cid, i)",
            f"c{it} AS (SELECT cid, list(CAST(FLOOR((2 * s + n) / (2 * n)) AS BIGINT) ORDER BY i) AS cv "
            f"FROM u{it} GROUP BY cid)",
        ]
        prev = f"c{it}"
    parts += [
        f"df AS (SELECT v.vec_id, v.qv, {prev}.cid, {dist('v.qv', prev + '.cv')} AS dist "
        f"FROM v CROSS JOIN {prev})",
        "af AS (SELECT vec_id, qv, cid FROM df "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)",
    ]
    return parts


def _ivfpq_topk_sql(
    n_cells: int = 16,
    probes: int = 4,
    m: int = 8,
    n_centroids: int = 8,
    iters: int = 2,
    k: int = 5,
    rerank: int = 30,
    dims: int = 64,
    train_filter: str | None = None,
    query_filter: str = "vec_id < 8",
    parts_only: bool = False,
    corpus_filter: str | None = None,
) -> str | list[str]:
    """SQL twin of operators.similarity.ivfpq_topk: the coarse k-means
    cell chain (shared with the trained-IVF oracles) restricts candidate
    pairs to probed cells; the per-subspace PQ chain (CTEs prefixed
    ``p``) supplies codes + LUT for ADC scoring; exact-cosine rerank of
    the top ``rerank``; final exact top-k.

    ``query_filter`` selects the query vectors; ``parts_only`` returns
    the CTE parts list (ending in ``exact`` = rerank-bounded exact
    cosines) for composition into larger oracles — the hybrid RRF's
    semantic side (doc_hybrid_rrf_search_pq) embeds this chain next to
    the BM25 chain, which is why the query-vector CTE is named ``pqv``
    (the BM25 chain owns ``q``)."""
    d = dims // m

    def sdist(sv: str, cv: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {d}), "
            f"i -> ({sv}[i] - {cv}[i]) * ({sv}[i] - {cv}[i])))"
        )

    # coarse chain: v, c0..c{iters}, df, af  (af = corpus cell assignment)
    parts = _kmeans_cells_sql(n_cells, iters, train_filter)
    pvt = "pvst" if train_filter else "pvs"
    parts += [
        f"qcell AS (SELECT vec_id AS query_id, cid FROM df WHERE {query_filter} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) <= {probes})",
        # candidate pairs BEFORE the m-way code expansion (the Spark
        # plan); corpus_filter restricts candidates to a shard (the
        # federated oracle — af itself still assigns every vector)
        "cpairs AS (SELECT qcell.query_id, af.vec_id FROM af "
        "JOIN qcell ON qcell.cid = af.cid AND af.vec_id <> qcell.query_id"
        + (f" AND ({corpus_filter})" if corpus_filter else "")
        + ")",
        # PQ chain, prefixed p* (training restricted by train_filter when
        # set; final paf encoding always covers every vector)
        f"pvs AS (SELECT vec_id, sub, qv[(sub * {d} + 1):((sub + 1) * {d})] AS sv "
        f"FROM v CROSS JOIN range(0, {m}) t(sub))",
    ]
    if train_filter:
        parts.append(f"pvst AS (SELECT * FROM pvs WHERE {train_filter})")
    parts += [
        f"pseed AS (SELECT vec_id FROM {'vt' if train_filter else 'v'} ORDER BY vec_id LIMIT {n_centroids})",
        f"pc0 AS (SELECT {pvt}.sub, {pvt}.vec_id AS cid, {pvt}.sv AS cv FROM {pvt} JOIN pseed USING (vec_id))",
    ]
    prev = "pc0"
    for it in range(1, iters + 1):
        parts += [
            f"pd{it} AS (SELECT {pvt}.vec_id, {pvt}.sub, {pvt}.sv, c.cid, {sdist(pvt + '.sv', 'c.cv')} AS dist "
            f"FROM {pvt} JOIN {prev} c ON c.sub = {pvt}.sub)",
            f"pa{it} AS (SELECT vec_id, sub, sv, cid FROM pd{it} "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1)",
            f"pu{it} AS (SELECT sub, cid, i, SUM(sv[i]) AS s, COUNT(*) AS n "
            f"FROM pa{it} CROSS JOIN range(1, {d + 1}) t(i) GROUP BY sub, cid, i)",
            f"pc{it} AS (SELECT sub, cid, list(CAST(FLOOR((2 * s + n) / (2 * n)) AS BIGINT) ORDER BY i) AS cv "
            f"FROM pu{it} GROUP BY sub, cid)",
        ]
        prev = f"pc{it}"
    adot = "CAST(SUM(l.pdot) AS DOUBLE)"
    xn2 = "CAST(SUM(l.cn2) AS DOUBLE)"
    qn2 = "CAST(ANY_VALUE(l.qn2) AS DOUBLE)"
    parts += [
        f"pdF AS (SELECT pvs.vec_id, pvs.sub, pvs.sv, c.cid, {sdist('pvs.sv', 'c.cv')} AS dist "
        f"FROM pvs JOIN {prev} c ON c.sub = pvs.sub)",
        "paf AS (SELECT vec_id, sub, cid FROM pdF "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1)",
        f"pcf AS (SELECT sub, cid, cv, list_sum(list_transform(cv, x -> x * x)) AS cn2 FROM {prev})",
        "pqv AS (SELECT vec_id AS query_id, qv, "
        f"list_sum(list_transform(qv, x -> x * x)) AS qn2 FROM v WHERE {query_filter})",
        f"qs AS (SELECT query_id, qn2, sub, qv[(sub * {d} + 1):((sub + 1) * {d})] AS qsv "
        f"FROM pqv CROSS JOIN range(0, {m}) t(sub))",
        "lut AS (SELECT qs.query_id, qs.qn2, pcf.sub, pcf.cid, "
        f"list_sum(list_transform(generate_series(1, {d}), i -> qs.qsv[i] * pcf.cv[i])) AS pdot, "
        "pcf.cn2 FROM qs JOIN pcf ON pcf.sub = qs.sub)",
        "approx AS (SELECT cp.query_id, cp.vec_id AS neighbor_id, "
        f"{_r6(f'{adot} / sqrt({xn2} * {qn2})')} AS approx "
        "FROM cpairs cp JOIN paf a ON a.vec_id = cp.vec_id "
        "JOIN lut l ON l.query_id = cp.query_id AND l.sub = a.sub AND l.cid = a.cid "
        "GROUP BY cp.query_id, cp.vec_id)",
        "cand AS (SELECT query_id, neighbor_id FROM approx "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) <= {rerank})",
        "exact AS (SELECT cand.query_id, cand.neighbor_id, "
        f"{_cosine_sql('pqv.qv', 'cv2.qv')} AS cosine "
        "FROM cand JOIN v cv2 ON cv2.vec_id = cand.neighbor_id "
        "JOIN pqv ON pqv.query_id = cand.query_id)",
    ]
    if parts_only:
        return parts
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (\n"
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank\n"
        f"  FROM exact\n) WHERE rank <= {k}"
    )


def _prefix_ctes(parts: list[str], prefix: str) -> list[str]:
    """Rename every CTE defined in ``parts`` (each part is one
    ``name AS (...)`` clause) to ``prefix+name``, including all
    references — lets two instances of the same unrolled chain (e.g.
    one IVF-PQ chain per corpus shard in the federated-search oracle)
    coexist in a single WITH block. Word-boundary rename over the
    derived definition names only, so column names never collide."""
    import re

    names = set()
    for p in parts:
        m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", p)
        if m:
            names.add(m.group(1))
    pat = re.compile(r"\b(" + "|".join(sorted(names, key=len, reverse=True)) + r")\b")
    return [pat.sub(lambda m: prefix + m.group(1), p) for p in parts]


_LANGS = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "es": ["el", "la", "los", "de", "que", "y"],
    "fr": ["le", "les", "des", "et", "est", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}


def _marker_count(words: list[str]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_TOKENS}, t -> t IN ({in_list})))"


_LANG_SCORES = {lang: _marker_count(words) for lang, words in _LANGS.items()}
_BEST = f"greatest({_LANG_SCORES['en']}, {_LANG_SCORES['es']}, {_LANG_SCORES['fr']}, {_LANG_SCORES['de']})"
_LANG_CASE = (
    f"CASE WHEN {_BEST} > 0 AND {_LANG_SCORES['en']} = {_BEST} THEN 'en' "
    f"WHEN {_BEST} > 0 AND {_LANG_SCORES['es']} = {_BEST} THEN 'es' "
    f"WHEN {_BEST} > 0 AND {_LANG_SCORES['fr']} = {_BEST} THEN 'fr' "
    f"WHEN {_BEST} > 0 AND {_LANG_SCORES['de']} = {_BEST} THEN 'de' "
    f"ELSE 'und' END"
)

_PUNCT_RAW = "CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)"
_ALPHA_RAW = "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)"
_N_TOK = f"len({_TOKENS})"
_QUALITY = (
    f"(least(CAST({_N_TOK} AS DOUBLE) / 64.0, 1.0) "
    f"+ (1.0 - least(({_PUNCT_RAW}) * 5.0, 1.0)) "
    f"+ ({_ALPHA_RAW})) / 3.0"
)

_FINGERPRINT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)

# shared inline round-6-as-double
_R6D = "CAST(CAST(FLOOR(({e}) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)"
