"""WatermarkStore under concurrent writers: the nightly batch's loads run
on their own threads and each sets its own key in the one shared file."""

from __future__ import annotations

import sys
import threading

from etl_process_spark.sources.watermark import WatermarkStore

N_THREADS = 8  # more writers than the cores of a small host
N_SETS = 50


def test_concurrent_sets_of_distinct_keys_all_survive(tmp_path):
    store = WatermarkStore(str(tmp_path / "watermarks.json"))
    errors: list[Exception] = []
    start = threading.Barrier(N_THREADS)

    def writer(i: int) -> None:
        start.wait(timeout=30)
        try:
            for j in range(N_SETS):
                store.set(f"table{i}", str(j))
                store.set(f"table{i}_{j}", str(j))
        except Exception as exc:  # asserted on the main thread
            errors.append(exc)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(N_THREADS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)

    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for i in range(N_THREADS):
        assert store.get(f"table{i}") == str(N_SETS - 1)
        for j in range(N_SETS):
            assert store.get(f"table{i}_{j}") == str(j)
