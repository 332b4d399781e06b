"""Job-group coverage: the share of executor time inside named groups,
counted over one crawl's window of job ids."""

from sparkstats import add, coverage, empty, in_window


def test_named_share_of_executor_time():
    jobs = {
        10: ("run.loop.iter0", 600.0),
        11: ("run.tables.write.seen.3", 300.0),
        12: (None, 100.0),  # a job started outside any group
    }
    assert coverage(jobs) == (900.0, 1000.0, 0.9)


def test_window_keeps_only_the_crawls_jobs():
    # 3: warm-up crawl (before), 4-5: the traced crawl, 9: a later crawl
    ids = [3, 4, 5, 9]
    assert in_window(ids, after_job=3, last_job=5) == [4, 5]
    jobs = {3: (None, 5000.0), 4: ("run.loop.iter0", 100.0), 5: (None, 100.0),
            9: (None, 7000.0)}
    windowed = {j: jobs[j] for j in in_window(jobs, 3, 5)}
    assert coverage(windowed) == (100.0, 200.0, 0.5)


def test_no_executor_time_counts_as_covered():
    assert coverage({})[2] == 1.0
    assert coverage({1: ("g", 0.0)})[2] == 1.0


def test_totals_add_field_by_field():
    a = dict(empty(), jobs=1, stages=2, run_ms=30)
    b = dict(empty(), jobs=2, stages=1, shuffle_read_b=7)
    out = add(add(empty(), a), b)
    assert out == dict(empty(), jobs=3, stages=3, run_ms=30, shuffle_read_b=7)
