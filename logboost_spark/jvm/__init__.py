"""JVM functions compiled from the Java sources in this directory.

The driver JVM's own ``javac`` (``java.home``) compiles them against the
driver's class path, which holds Spark's jars and the Jackson they use,
so nothing is downloaded. The jar is cached under the temp directory,
keyed by the sources, ``java.version`` and the Spark version, and is
built once per key: first into a temp name, then renamed into place.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))


def jar(spark: SparkSession) -> str:
    """Path of the compiled jar, built on first use."""
    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    sources = sorted(glob.glob(os.path.join(HERE, "*.java")))
    key = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as f:
            key.update(f.read())
    key.update(f"{prop('java.version')}|{spark.version}".encode())
    cache = os.path.join(tempfile.gettempdir(), "logboost_spark-jvm")
    out = os.path.join(cache, f"functions-{key.hexdigest()[:16]}.jar")
    if os.path.exists(out):
        return out
    javac = os.path.join(prop("java.home"), "bin", "javac")
    if not os.access(javac, os.X_OK):
        raise RuntimeError(
            f"no javac at {javac}: the JSON parse compiles a JVM function "
            "and needs a JDK, not only a JRE, as the driver's java.home"
        )
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        # -path: Spark's jars name absent jars in their manifest Class-Path
        cmd = [javac, "-Xlint:all,-path", "-Werror", "-proc:none",
               "-d", classes, "-cp", prop("java.class.path"), *sources]
        done = subprocess.run(cmd, capture_output=True, text=True)
        if done.returncode:
            raise RuntimeError(f"javac failed:\n{done.stdout}{done.stderr}")
        built = os.path.join(tmp, "functions.jar")
        with zipfile.ZipFile(built, "w") as z:
            for path in sorted(glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)):
                z.write(path, os.path.relpath(path, classes))
        os.replace(built, out)
    return out
