"""Catalog output shape (exams.json contract) tests."""

import json

from ocrspark.catalog import exams_catalog, subjects_catalog, to_json_catalog
from ocrspark.corpus import generate_docs
from ocrspark.pipeline import extract


def test_exams_catalog_order_and_shape(spark, golden_docs_df):
    out = exams_catalog(extract(golden_docs_df)).collect()
    assert len(out) == 1
    row = out[0]
    nums = [t.task_number for t in row.tasks]
    assert nums == [str(i) for i in range(1, 17)]  # numeric order, W6
    # the container dump carries no printed code (the reference supplied the
    # subject externally); code extraction is covered by the corpus diff
    assert row.source_subject_code == "UNKNOWN"
    # task_text is the P13 HTML (exams.json:21 contract) with points trailer
    assert row.tasks[0].task_text.endswith("<p>Maks poeng: 2</p>")
    assert row.tasks[0].task_text.startswith("<p>")
    assert all(t.topic for t in row.tasks)
    assert "Kinematikk" in row.topics and "Unknown Topic" not in row.topics


def test_subjects_catalog_full_shape(spark):
    docs = generate_docs(spark, 40, seed=8)
    per_subject = {r.subject: r for r in
                   subjects_catalog(exams_catalog(extract(docs))).collect()}
    assert per_subject
    # wildcard-merged family subject lists its observed codes as alternates
    if "IFYX1001" in per_subject:
        r = per_subject["IFYX1001"]
        assert "IFYA1001" in r.alternate_codes
        assert "IFYX1001" not in r.alternate_codes
    for r in per_subject.values():
        assert r.ignored_topics == []
        assert "Unknown Topic" not in r.topics
        for ver, exam in r.exams.items():
            assert exam.tasks and exam.source_subject_code


def test_ignored_topics_array_except(spark):
    """P7: ignored topics removed from the subject's topic list (and kept in
    ignored_topics) via a broadcast override table (S6/J2 pattern)."""
    docs = generate_docs(spark, 40, seed=8)
    per_exam = exams_catalog(extract(docs))
    base = {r.subject: r for r in subjects_catalog(per_exam).collect()}
    subj = next(s for s, r in base.items() if "Kinematikk" in r.topics)
    ignored = spark.createDataFrame(
        [(subj, ["Kinematikk"])],
        "subject string, ignored_topics array<string>",
    )
    out = {r.subject: r for r in
           subjects_catalog(per_exam, ignored).collect()}
    assert "Kinematikk" not in out[subj].topics
    assert out[subj].ignored_topics == ["Kinematikk"]
    assert sorted(out[subj].topics + ["Kinematikk"]) == sorted(
        t for t in base[subj].topics
    ) or "Kinematikk" not in base[subj].topics


def test_to_json_catalog_parses(spark):
    docs = generate_docs(spark, 10, seed=8)
    out = to_json_catalog(extract(docs)).collect()
    assert out
    for r in out:
        doc = json.loads(r.catalog_json)
        assert {"alternate_codes", "topics", "ignored_topics", "exams"} <= set(doc)
        for ver, exam in doc["exams"].items():
            assert "source_subject_code" in exam
            assert isinstance(exam["tasks"], list) and exam["tasks"]
            assert {"topic", "task_number", "points", "task_text",
                    "media_refs"} <= set(exam["tasks"][0])


def test_catalog_caps_fail_loud(spark, monkeypatch):
    """The collect_list contract at adversarial key skew is explicit: a
    hot (subject, exam_version) exceeding the task cap, or a subject
    exceeding the exam-version cap, raises in-plan with the key named —
    never a silently-truncated or multi-GB catalog row.  Default caps
    leave the exam domain untouched."""
    import pytest

    from ocrspark import catalog

    docs = generate_docs(spark, 40, seed=8)
    ext = extract(docs)
    assert exams_catalog(ext).count() > 0          # defaults: unchanged
    per_exam = exams_catalog(ext)
    monkeypatch.setattr(catalog, "CATALOG_MAX_TASKS_PER_EXAM", 2)
    with pytest.raises(Exception, match="tasks > cap 2"):
        exams_catalog(ext).collect()
    monkeypatch.setattr(catalog, "CATALOG_MAX_EXAMS_PER_SUBJECT", 0)
    with pytest.raises(Exception, match="exam versions > cap 0"):
        subjects_catalog(per_exam).collect()
