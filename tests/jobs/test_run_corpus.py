"""Smoke tests for the per-corpus CLI (jobs/run_corpus.py) — the engine's
`seq2rel-ds <corpus> main OUTPUT_DIR` equivalent (reference main.py:8-14):
each subcommand must read the corpus' native file formats from disk and
produce train/valid/test.tsv."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2] / "jobs"))

from tests.fixtures import synth  # noqa: E402


def _run(argv):
    import run_corpus

    args = run_corpus.build_parser().parse_args(argv)
    return args.fn(args)


def _assert_tsv(out: Path, names):
    for name in names:
        d = out / f"{name}.tsv"
        assert (d / "_SUCCESS").exists(), f"missing split {name}"
        lines = []
        for part in d.glob("part-*"):
            lines += part.read_text().splitlines()
        assert lines and all("\t" in ln for ln in lines)


class TestRunCorpusCLI:
    def test_cdr(self, spark, tmp_path):
        train = tmp_path / "train.txt"
        train.write_text(synth.CDR_CORPUS)
        test = tmp_path / "test.txt"
        test.write_text(synth.HYPERNYM_CORPUS)
        mesh = tmp_path / "mesh.tsv"
        mesh.write_text(
            "tree\tuid\n"
            + "\n".join(f"{t}\t{uid}" for uid, ts in synth.MESH_TREE.items() for t in ts)
        )
        out = tmp_path / "out"
        counts = _run(
            ["cdr", str(out), "--train", str(train), "--test", str(test), "--mesh", str(mesh)]
        )
        assert counts["train"] == 3 and counts["test"] == 1
        _assert_tsv(out, ["train", "test"])

    def test_gda(self, spark, tmp_path):
        for stem, content in (
            ("abstracts", synth.GDA_ABSTRACTS),
            ("anns", synth.GDA_ANNS),
            ("labels", synth.GDA_LABELS),
        ):
            (tmp_path / f"{stem}.txt").write_text(content)
        out = tmp_path / "out"
        args = ["gda", str(out)]
        for split in ("train", "test"):
            args += [
                f"--{split}-abstracts", str(tmp_path / "abstracts.txt"),
                f"--{split}-anns", str(tmp_path / "anns.txt"),
                f"--{split}-labels", str(tmp_path / "labels.txt"),
            ]
        counts = _run(args + ["--valid-size", "0.5"])
        assert counts["test"] == 2 and counts["train"] + counts["valid"] == 2
        _assert_tsv(out, ["test"])

    def test_docred(self, spark, tmp_path):
        data = tmp_path / "train.json"
        data.write_text(json.dumps(synth.DOCRED_EXAMPLES))
        types = tmp_path / "types.json"
        types.write_text(json.dumps(synth.DOCRED_TYPES))
        out = tmp_path / "out"
        counts = _run(
            ["docred", str(out), "--train", str(data), "--types", str(types)]
        )
        assert counts["train"] == len(synth.DOCRED_EXAMPLES)
        _assert_tsv(out, ["train"])

    def test_dgm(self, spark, tmp_path):
        data = tmp_path / "data.jsonl"
        data.write_text("\n".join(json.dumps(e) for e in synth.DGM_EXAMPLES))
        (tmp_path / "train_pmids.txt").write_text("7001\n")
        (tmp_path / "dev_pmids.txt").write_text("7003\n")
        out = tmp_path / "out"
        counts = _run(
            [
                "dgm", str(out),
                "--data", str(data),
                "--train-pmids", str(tmp_path / "train_pmids.txt"),
                "--dev-pmids", str(tmp_path / "dev_pmids.txt"),
                "--valid-size", "0",
            ]
        )
        assert counts["train"] == 1 and counts["test"] == 1
        _assert_tsv(out, ["train", "test"])
