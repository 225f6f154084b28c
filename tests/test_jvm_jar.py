"""The DSv2 plugin jar holds exactly the classes of the current sources.

``ensure_catalog_jar`` rebuilds when a source changes, appears or disappears,
and compiles into a fresh classes directory, so a class whose source is gone
(say an inner class a refactor removed) never ships in the jar.
"""

from __future__ import annotations

import os
import shutil
import zipfile

import pytest

from lance_namespace_impls_spark.catalog import jvm_catalog

javac_missing = shutil.which("javac") is None
pytestmark = pytest.mark.skipif(javac_missing, reason="no JDK compiler in PATH")


def _classes(jar: str) -> set[str]:
    with zipfile.ZipFile(jar) as z:
        return {n for n in z.namelist() if n.endswith(".class")}


def test_jar_classes_match_current_sources():
    jar = jvm_catalog.ensure_catalog_jar()
    tops = {os.path.basename(n).split("$")[0].removesuffix(".class") for n in _classes(jar)}
    sources = {os.path.basename(s).removesuffix(".java") for s in jvm_catalog._java_sources()}
    assert tops == sources


def test_removed_source_leaves_no_stale_classes(tmp_path, monkeypatch):
    src = tmp_path / "src"
    src.mkdir()
    monkeypatch.setattr(jvm_catalog, "_SRC_DIR", str(src))
    monkeypatch.setattr(jvm_catalog, "_JAR", str(tmp_path / "dist" / "plugin.jar"))
    # Builds stay under tmp_path, whether they use fresh per-build directories
    # (_BUILD) or one reused classes directory (_CLASSES, the layout that
    # shipped stale classes).
    monkeypatch.setattr(jvm_catalog, "_BUILD", str(tmp_path / "build"), raising=False)
    monkeypatch.setattr(
        jvm_catalog, "_CLASSES", str(tmp_path / "build" / "classes"), raising=False
    )
    a, b = src / "A.java", src / "B.java"
    a.write_text("package p; public class A {}\n")
    b.write_text("package p; public class B { static final class Resp {} }\n")
    jar = jvm_catalog.ensure_catalog_jar()
    assert _classes(jar) == {"p/A.class", "p/B.class", "p/B$Resp.class"}

    # Deleting a source alone must trigger a rebuild, and the rebuild must
    # not pick up the removed source's classes from an earlier build.
    b.unlink()
    assert _classes(jvm_catalog.ensure_catalog_jar()) == {"p/A.class"}
