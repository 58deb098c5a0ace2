"""The benchmark's own bookkeeping: self time, job attribution, plan
fingerprints and event-log parsing, on synthetic inputs."""

import json

from perfbench import tracing
from perfbench.tracing import Job, Span


def _clock(times):
    it = iter(times)
    return lambda: next(it)


def test_self_time_subtracts_the_union_of_children():
    t = tracing.Tracer(clock=_clock([0.0, 1.0, 4.0, 3.0, 5.0, 6.0, 9.0, 10.0]))
    with t.span("op", "op") as op:
        with t.span("a", "layer"):  # 1 .. 4
            pass
        with t.span("b", "layer"):  # 3 .. 5, overlaps a by 1
            pass
        with t.span("c", "layer"):  # 6 .. 9
            pass
    # op spans 0 .. 10; children cover 1..5 and 6..9
    assert op.duration == 10.0
    assert [s.parent for s in t.spans] == [None, 0, 0, 0]
    assert tracing.self_time(op, t.spans) == 10.0 - 4.0 - 3.0
    leaf = t.spans[1]
    assert tracing.self_time(leaf, t.spans) == leaf.duration


def test_self_time_clips_children_to_the_parent():
    parent = Span(0, None, "op", "op", 10.0, 20.0)
    child = Span(1, 0, "job", "job", 15.0, 30.0)  # outlives its parent
    assert tracing.self_time(parent, [parent, child]) == 5.0


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10)], lo=2, hi=4) == 2
    assert tracing.union_length([]) == 0


def _spans():
    return [
        Span(0, None, "pass0", "pass", 0.0, 100.0),
        Span(1, 0, "opA", "op", 10.0, 20.0),
        Span(2, 1, "plans.query_fn", "layer", 10.0, 12.0),
        Span(3, 0, "opB", "op", 20.0, 30.0),
    ]


def test_job_straddling_an_op_boundary_stays_with_the_op_it_started_in():
    spans = _spans()
    straddler = Job(1, submit=19.5, end=25.0, stage_ids=[1])
    inner = Job(2, submit=11.0, end=11.5, stage_ids=[2])
    in_b = Job(3, submit=20.0, end=21.0, stage_ids=[3])
    between = Job(4, submit=50.0, end=51.0, stage_ids=[4])
    outside = Job(5, submit=200.0, end=201.0, stage_ids=[5])
    owned = tracing.attribute_jobs([straddler, inner, in_b, between, outside], spans)
    assert owned[1] == [straddler]
    assert owned[2] == [inner]  # the innermost span wins
    assert owned[3] == [in_b]  # a job submitted at the boundary belongs to the op starting
    assert owned[0] == [between]
    assert all(outside not in js for js in owned.values())
    assert tracing.jobs_under(spans[1], spans, owned) == [inner, straddler]
    # driver time: opA's wall minus the part its jobs cover
    assert tracing.driver_time(spans[1], [inner, straddler]) == 10.0 - 0.5 - 0.5
    assert tracing.first_job_delay(spans[2], [inner]) == 1.0
    assert tracing.first_job_delay(spans[3], []) == 10.0


def test_parse_event_log_assigns_stages_to_the_job_that_ran_them():
    def ev(**kw):
        return json.dumps(kw)

    lines = [
        ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]}),
        ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0, "Submission Time": 1001}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Input Metrics": {"Bytes Read": 2048},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2000}),
        # job 1 lists stage 0 again but skips it, and runs stage 2
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3000, "Stage IDs": [0, 2]}),
        ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2, "Submission Time": 3001}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 250, "Shuffle Read Metrics": {"Local Bytes Read": 1024}}}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 3500}),
        ev(Event=tracing._SQL_START, executionId=7, time=999, physicalPlanDescription="p0"),
        ev(Event=tracing._SQL_UPDATE, executionId=7, physicalPlanDescription="p1"),
    ]
    jobs, execs = tracing.parse_event_log(lines)
    assert [j.id for j in jobs] == [0, 1]
    assert [s.id for s in jobs[0].stages] == [0]
    assert [s.id for s in jobs[1].stages] == [2]
    assert jobs[0].task_s == 0.5 and jobs[0].stages[0].scan_tasks == 1
    assert jobs[0].shuffle_write_bytes == 1024 and jobs[1].shuffle_write_bytes == 0
    assert (jobs[1].submit, jobs[1].end) == (3.0, 3.5)
    assert [(e.id, e.plan, e.final_plan) for e in execs] == [(7, "p0", "p1")]


def test_plan_hash_ignores_run_noise_but_not_plan_changes():
    a = ("Project [x#12L, y#13] file:/tmp/a/b ver = 3 MemoryStreamingWrite@1a2b3c4d\n"
         "Arguments: `bandadm_0qhdwoh1`, MapPartitionsRDD[32]\n"
         ":- ShuffleQueryStage (149), Statistics(sizeInBytes=1498.6 KiB, rowCount=4.65E+3)")
    b = ("Project [x#98L, y#99] file:/other/dir ver = 7 MemoryStreamingWrite@ffee0011\n"
         "Arguments: `bandadm_x2zo0u98`, MapPartitionsRDD[152]\n"
         ":- ShuffleQueryStage (149), Statistics(sizeInBytes=1502.3 KiB, rowCount=4.65E+3)")
    c = "Filter [x#12L] file:/tmp/a/b"
    assert tracing.plan_hash([a]) == tracing.plan_hash([b])
    assert tracing.plan_hash([a]) != tracing.plan_hash([c])
    assert tracing.plan_hash([a, b]) == tracing.plan_hash([a])


def test_plan_hash_ignores_lambda_and_group_numbers_and_attribute_order():
    a = ("Keys [3]: [o_totalprice#1, f(o_custkey#2, 1) AS k#3, gid#4]\n"
         "Functions [1]: [partial_count(o_custkey#2) FILTER (WHERE (gid#4 = 2))]\n"
         "Output [1]: [aggregate(zip_with(e#5, lambdafunction(lambda x_7#6, lambda x_7#6, false)))]")
    b = ("Keys [3]: [gid#9, o_totalprice#10, f(o_custkey#11, 1) AS k#12]\n"
         "Functions [1]: [partial_count(o_custkey#11) FILTER (WHERE (gid#9 = 6))]\n"
         "Output [1]: [aggregate(zip_with(e#13, lambdafunction(lambda x_6#14, lambda x_6#14, false)))]")
    c = "Keys [3]: [gid#9, o_totalprice#10, f(o_custkey#11, 2) AS k#12]"
    assert tracing.plan_hash([a]) == tracing.plan_hash([b])
    assert tracing.plan_hash([a]) != tracing.plan_hash([a.replace("Keys [3]", "Keys [2]")])
    assert tracing.normalize_plan(c) == "Keys [3]: [f(o_custkey#, 2) AS k#, gid#, o_totalprice#]"


def test_fallback_nodes_counts_the_final_plan_only():
    plan = "\n".join([
        "AdaptiveSparkPlan (9)",
        "+- == Final Plan ==",
        "   * HashAggregate (5)",
        "   +- SortAggregate (4)",
        "      +- Project (3)",
        "         +- * Filter (2)",
        "            +- Exchange (1)",
        "+- == Initial Plan ==",
        "   SortAggregate (7)",
        "   +- HashAggregate (6)",
        "",
        "(1) Exchange",
        "Arguments: SortAggregate",
    ])
    assert tracing.fallback_nodes(plan) == 2  # SortAggregate, interpreted Project
