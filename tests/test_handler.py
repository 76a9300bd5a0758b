"""SparkHandler reference-parity tests.

Mirrors reference ``tests/test_distributed_handler.py``: elementwise
``lambda x: x+1`` over 10/100/1000 elements, differential against an
independent plain-Python baseline, order-insensitive (set) comparison;
plus batched/unbatched cross-check and batch-size introspection.
"""

import os
import zipimport

import pytest

from aics_dask_utils_spark.handler import SparkHandler
from aics_dask_utils_spark.session import _worker_conf


@pytest.fixture(scope="module")
def handler(spark):
    # wrap the shared test session; handler must NOT stop it on close
    return SparkHandler(spark=spark)


@pytest.mark.parametrize("n", [10, 100, 1000])
def test_map_gather_matches_baseline(handler, n):
    data = list(range(n))
    got = handler.gather(handler.map(lambda x: x + 1, data))
    baseline = list(map(lambda x: x + 1, data))
    assert set(got) == set(baseline)


@pytest.mark.parametrize("n", [10, 100, 1000])
def test_batched_map_matches_map(handler, n):
    data = list(range(n))
    unbatched = handler.gather(handler.map(lambda x: x + 1, data))
    batched = handler.batched_map(lambda x: x + 1, data)
    explicit = handler.batched_map(lambda x: x + 1, data, batch_size=64)
    assert set(batched) == set(unbatched) == set(explicit)


def test_multi_iterable_zip(handler):
    a, b = list(range(50)), list(range(100, 150))
    got = handler.batched_map(lambda x, y: x * y, a, b)
    assert set(got) == {x * y for x, y in zip(a, b)}


def test_misaligned_iterables_raise(handler):
    with pytest.raises(ValueError):
        handler.map(lambda x, y: x, [1, 2, 3], [1, 2])


def test_batch_size_defaults_to_parallelism(handler):
    assert handler._get_batch_size() == handler.parallelism > 0


def test_gather_of_materialized_list(handler):
    # thread-backend parity: gather over an already-materialized list
    assert handler.gather([1, 2, 3]) == [1, 2, 3]


def test_close_leaves_external_session_running(spark):
    h = SparkHandler(spark=spark)
    h.close()
    assert spark.range(1).count() == 1  # session still alive


def test_context_manager(spark):
    with SparkHandler(spark=spark) as h:
        assert h.gather(h.map(lambda x: -x, [1, 2])) == [-1, -2]


def test_gather_reraises_worker_exception(handler):
    # fail-fast parity: the first worker exception surfaces at gather,
    # never silently partial (reference distributed_handler.py:146-163)
    def boom(x):
        if x == 3:
            raise ValueError("worker failure on 3")
        return x

    deferred = handler.map(boom, list(range(8)))
    with pytest.raises(Exception) as exc_info:
        handler.gather(deferred)
    assert "worker failure on 3" in str(exc_info.value)


def test_batched_map_explicit_batches_complete_in_order(handler):
    # completed-per-batch semantics: with batch_size=b, results
    # concatenate in batch order (reference distributed_handler.py:142)
    got = handler.batched_map(lambda x: x * 2, list(range(10)), batch_size=3)
    assert got == [x * 2 for x in range(10)]


@pytest.mark.parametrize("batch_size", [0, -3])
def test_batched_map_rejects_non_positive_batch_size(handler, batch_size):
    # range(0, n, -3) is empty and range(0, n, 0) raises a bare range()
    # error; both must be a ValueError naming the argument instead
    with pytest.raises(ValueError, match="batch_size"):
        handler.batched_map(lambda x: x, [1, 2, 3], batch_size=batch_size)


def test_map_forwards_kwargs(handler):
    # reference pass-through: extra kwargs reach every func call
    # (distributed_handler.py:117-128)
    got = handler.batched_map(
        lambda x, offset=0: x + offset, [1, 2, 3], offset=100
    )
    assert got == [101, 102, 103]


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this CPython's zipimporter reads its directory lazily; the guard is not installed",
)
def test_local_workers_do_not_reread_zip_directories(handler):
    # Each task reports whether its worker runs the engine daemon's
    # guard, and how many zip directories that worker has re-read.
    def probe(_):
        import zipimport

        from aics_dask_utils_spark import _worker_daemon

        guard = zipimport.zipimporter.invalidate_caches
        return guard.__module__ == _worker_daemon.__name__, _worker_daemon.rereads

    first = handler.gather(handler.map(probe, [0], num_slices=1))
    second = handler.gather(handler.map(probe, [0], num_slices=1))
    assert first[0][0] is True
    assert second == [(True, 0)]


def test_worker_conf_is_local_only_and_all_or_nothing():
    conf = _worker_conf("local[4]", None)
    assert conf["spark.python.daemon.module"] == "aics_dask_utils_spark._worker_daemon"
    engine = os.path.join(conf["spark.executorEnv.PYTHONPATH"], "aics_dask_utils_spark")
    assert os.path.isfile(os.path.join(engine, "_worker_daemon.py"))
    assert _worker_conf("spark://h:7077", None) == {}
    assert _worker_conf("yarn", None) == {}
    for key in conf:
        assert _worker_conf("local[4]", {key: "caller's"}) == {}
