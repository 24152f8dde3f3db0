"""The coarse quantizer shared by the IVF-family indexes in
``operators/similarity``: the per-query cell pick, the persisted IVFPQ
model's write/read round trip, and zero-row query sets through every
IVF/graph probe. Tiny hand-built vectors, so each expectation is
checkable by hand."""

from __future__ import annotations

import pytest

from banking_data_etl_pipeline_spark.operators import similarity as S

RESULT_COLS = ["query_id", "vec_id", "cosine", "rank"]


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, qvec array<double>")


def test_cell_pick_breaks_ties_to_the_lower_cid_and_keeps_nprobe(spark):
    # cids 2 and 5 are the same vector: every tie between them goes to 2
    cents = [
        (5, [1.0, 0.0]),
        (2, [1.0, 0.0]),
        (9, [-1.0, 0.0]),
        (7, [0.0, 1.0]),
    ]
    q = _queries(
        spark,
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
    )
    scorer = S._centroid_scorer(cents)
    want = {
        # q1: 2 and 5 tie at 1.0, then 7 (0.0), then 9 (-1.0)
        1: [2, 5, 7],
        # q2: 7 first, then 2, 5 and 9 tie at 0.0
        2: [7, 2, 5],
        # q3 (zero vector): every score is 0.0, so the cid order
        3: [2, 5, 7],
    }
    for nprobe in (1, 2, 3):
        probes = S._probe_cells(q, scorer, nprobe)
        assert probes.columns == ["query_id", "qvec", "_nq", "cell"]
        got: dict[int, list[int]] = {}
        for r in probes.collect():
            got.setdefault(r.query_id, []).append(r.cell)
        assert {k: sorted(v) for k, v in got.items()} == {
            k: sorted(v[:nprobe]) for k, v in want.items()
        }, nprobe
    assert S._cells_of(S._probe_cells(q, scorer, 2)) == [2, 5, 7]


@pytest.fixture(scope="module")
def emb(spark):
    # 40 exact-in-float32 vectors of dim 4, ids 0..39
    rows = [
        (i, [float(((i * 7 + j * 3) % 11) - 5) / 4.0 for j in range(4)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_model_round_trips_through_the_shared_loader(
    spark, emb, tmp_path
):
    cents = [
        (3, [1.0, 0.5, -0.25, 0.0]),
        (0, [-1.0, 0.0, 0.75, 2.0]),
        (1, [0.0, -1.5, 0.5, 1.25]),
    ]
    books = [
        [[0.5, -1.0], [1.25, 0.0], [-0.75, 0.25]],
        [[0.0, 0.0], [2.0, -0.5], [0.125, 1.0]],
    ]
    path = str(tmp_path / "ivfpq")
    S.build_ivfpq_index(
        emb, path, n_centroids=3, m=2, codes=3, residual=True,
        cents=cents, books=books,
    )
    got_cents, got_books, residual, m = S._load_ivfpq_model(spark, path)
    assert got_cents == sorted(cents)
    assert got_books == books
    assert residual is True and m == 2


@pytest.fixture(scope="module")
def built(spark, emb, tmp_path_factory):
    """One tiny IVF, IVFPQ and graph index over ``emb``."""
    d = tmp_path_factory.mktemp("ann_index")
    paths = {name: str(d / name) for name in ("ivf", "ivfpq", "graph")}
    S.build_ivf_index(emb, paths["ivf"], n_centroids=4)
    S.build_ivfpq_index(emb, paths["ivfpq"], n_centroids=4, m=2, codes=4)
    S.build_graph_index(emb, paths["graph"], n_centroids=4, n_buckets=4)
    return paths


@pytest.mark.parametrize(
    "probe",
    [
        "ivf_topk",
        "probe_ivf_index",
        "probe_ivfpq_index",
        "nsw_topk",
        "probe_graph_index",
    ],
)
def test_zero_row_query_set_gives_zero_rows(spark, emb, built, probe):
    q = _queries(spark, [])
    out = {
        "ivf_topk": lambda: S.ivf_topk(emb, q, k=3, n_centroids=4),
        "probe_ivf_index": lambda: S.probe_ivf_index(
            spark, built["ivf"], q, k=3
        ),
        "probe_ivfpq_index": lambda: S.probe_ivfpq_index(
            spark, emb, built["ivfpq"], q, k=3
        ),
        "nsw_topk": lambda: S.nsw_topk(emb, q, k=3, n_centroids=4),
        "probe_graph_index": lambda: S.probe_graph_index(
            spark, built["graph"], q, k=3, n_buckets=4
        ),
    }[probe]()
    assert out.columns == RESULT_COLS
    assert out.collect() == []
