"""A ``file:`` Hadoop FileSystem that sets permissions in the JVM.

Without the native Hadoop library (pyspark ships none),
``RawLocalFileSystem.setPermission`` forks ``/bin/chmod`` for every data
file, ``.crc`` file and directory a local write creates: about 30 forks
(~3 ms each) for one FS-topic append. ``jvm/LocalFileSystem.java`` is
Hadoop's checksummed ``LocalFileSystem`` with that one call done through
``java.nio``. It is compiled once with the Janino compiler that Spark
already ships (so the ``java`` binary Spark runs on is enough, no JDK) and
cached under ``$XDG_CACHE_HOME`` by a hash of the source and the pyspark
version. ``session.get_spark`` applies :func:`spark_conf`.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from py4j.protocol import Py4JError

CLASS = "kafi_spark.jvm.LocalFileSystem"
_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                    "LocalFileSystem.java")
_COMPILER = "org.codehaus.commons.compiler.samples.CompilerDemo"


def _java() -> str:
    """The binary ``spark-class`` launches Spark with."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def class_dir() -> str | None:
    """Directory holding the compiled class, built on first use; None
    (with a warning) when it cannot be built."""
    with open(_SRC, "rb") as f:
        key = hashlib.sha256(f.read() + pyspark.__version__.encode())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "kafi_spark")
    out = os.path.join(cache, f"localfs-{key.hexdigest()[:16]}")
    built = os.path.join(out, *CLASS.split(".")) + ".class"
    if os.path.isfile(built):
        return out
    jars = os.path.join(_find_spark_home(), "jars")
    tmp = None
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=cache)
        subprocess.run(
            [_java(), "-cp", os.path.join(jars, "*"), _COMPILER, "-d", tmp,
             "-classpath", os.pathsep.join(sorted(glob.glob(
                 os.path.join(jars, "*.jar")))), _SRC],
            check=True, capture_output=True, timeout=300)
        try:
            os.rename(tmp, out)
        except OSError:
            pass  # a concurrent build got there first
        if not os.path.isfile(built):
            raise OSError(f"no {built} after the build")
        return out
    except (OSError, subprocess.SubprocessError) as e:
        warnings.warn(f"{CLASS} not built ({e}); local writes keep "
                      "Hadoop's forking LocalFileSystem")
        return None
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


def spark_conf() -> dict[str, str]:
    """Session conf pointing Hadoop's ``file:`` scheme at :data:`CLASS`,
    or ``{}`` when the driver JVM would not load it.

    Before this process has a JVM, the session about to start launches
    one with the class directory on its classpath. A JVM already running
    (an earlier session, or one started outside this process) keeps its
    classpath, so the class is used only if that JVM can load it.
    """
    jvm = SparkContext._jvm
    if jvm is None:
        if os.environ.get("PYSPARK_GATEWAY_PORT"):
            return {}  # started elsewhere: classpath fixed, not checkable
        d = class_dir()
        return {} if d is None else {"spark.driver.extraClassPath": d,
                                     "spark.hadoop.fs.file.impl": CLASS}
    try:
        jvm.java.lang.Class.forName(CLASS)
    except Py4JError:  # ClassNotFoundException, or a linkage error
        return {}
    return {"spark.hadoop.fs.file.impl": CLASS}
