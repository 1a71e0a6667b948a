"""Real-world-code robustness parity:

* BotanExampleTest (cpg-core/src/test/java/.../cpp/BotanExampleTest.java)
  over the reference's botan/symm_block_cipher.cpp — an unmodified
  production-style C++ file (includes, #define macros, namespaced
  template types, -> chains): the TU must yield exactly the 5 top-level
  declarations (do_crypt/encrypt/decrypt/main + the __IV global) with no
  ProblemDeclaration.
* DemoTests.testHierarchy/testPartial (.../java/DemoTests.java) over the
  reference's compiling/hierarchy corpus (12 files incl. a multistep
  inheritance chain, parsed TOGETHER cross-document) and the partial/
  method-level snippets — parse must survive and the hierarchy must
  close over the multistep chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators.external_hierarchy import probe_supertypes
from cpg_spark.operators.hierarchy import supertype_record_closure
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

BOTAN_CPP = r"""
#include <iostream>
#include <stdexcept>
#include <cassert>
#include <botan/aead.h>
#include <botan/hex.h>
#include <botan/block_cipher.h>
#include <botan/auto_rng.h>

#define __CIPHER "AES-256/CBC"
#define __KEY_LENGTH 32
#define __IV_LENGTH 16

Botan::InitializationVector __IV;

Botan::secure_vector<uint8_t> do_crypt(const std::string &cipher,
                                       const std::vector<uint8_t> &input,
                                       const Botan::SymmetricKey &key,
                                       const Botan::InitializationVector &iv,
                                       Botan::Cipher_Dir direction)
{
    if(iv.size() == 0)
        throw std::runtime_error("IV must not be empty");

    std::unique_ptr<Botan::Cipher_Mode> processor(Botan::get_cipher_mode(cipher, direction));
    if(!processor)
        throw std::runtime_error("Cipher algorithm not found");

    // Set key
    processor->set_key(key);

    // Set IV
    processor->start(iv.bits_of());

    Botan::secure_vector<uint8_t> buf(input.begin(), input.end());
    processor->finish(buf);

    return buf;
}


std::string encrypt(std::string cleartext) {
    const std::string key_hex = "f00dbabef00dbabef00dbabef00dbabef00dbabef00dbabef00dbabef00dbabe";
    const Botan::SymmetricKey key(key_hex);

    Botan::AutoSeeded_RNG rng;
    __IV = Botan::InitializationVector(rng, __IV_LENGTH);

    std::vector<uint8_t> input(cleartext.begin(), cleartext.end());

    Botan::secure_vector<uint8_t> cipherblob = do_crypt(__CIPHER, input, key, __IV, Botan::ENCRYPTION);
    return Botan::hex_encode(cipherblob);
}

std::string decrypt(const std::string &ciphertext) {
    const std::string key_hex = "f00dbabef00dbabef00dbabef00dbabef00dbabef00dbabef00dbabef00dbabe";
    const Botan::SymmetricKey key(key_hex);

    std::vector<uint8_t> input = Botan::hex_decode(ciphertext);

    Botan::secure_vector<uint8_t> clearblob = do_crypt(__CIPHER, input, key, __IV, Botan::DECRYPTION);

    return std::string(clearblob.begin(), clearblob.end());
}

int main() {
    std::string cleartext = "my secret message";

    std::string ciphertext = encrypt(cleartext);
    std::cout << "Ciphertext:" << ciphertext << std::endl;

    std::string cleartext_decrypted = decrypt(ciphertext);
    std::cout << "Decrypted:" << cleartext_decrypted << std::endl;

    return 0;
}
"""

# the reference's compiling/hierarchy corpus, verbatim
HIERARCHY = {
    "Interface": """\
public interface Interface {

    int getInt();

    default String print() {
        return "Default print!";
    }
}
""",
    "Implementor1": """\
public class Implementor1 implements Interface {

    @Override
    public int getInt() {
        return 42;
    }
}
""",
    "Implementor2": """\
public class Implementor2 implements Interface {

    @Override
    public int getInt() {
        return 123;
    }
}
""",
    "Super": """\
public class Super {

    public int superInt;

    public Super(int superInt) {
        this.superInt = superInt;
    }

    public int getSuperInt() {
        return superInt;
    }

    @Override
    public String toString() {
        return "Super[superInt=" + superInt + "]";
    }
}
""",
    "Sub": """\
public class Sub extends Super {

    public int subInt;

    public Sub() {
        this(123);
    }

    public Sub(int subInt) {
        super(42);
        this.subInt = subInt;
    }

    @Override
    public String toString() {
        return "Sub[superInt=" + superInt + ", subInt=" + subInt + "]";
    }
}
""",
    "User": """\
public class User {

    private Interface defaultInterface;
    private Interface interface1, interface2;
    private Super s;

    public User(boolean useNewInterface) {
        defaultInterface = useNewInterface ? new Implementor2() : new Implementor1();
        interface1 = new Implementor1();
        interface2 = new Implementor2();
        s = new Sub(123);
    }

    public int getLocalInt() {
        var localInterface = new Implementor1();
        return localInterface.getInt();
    }

    public int getInt() {
        return defaultInterface.getInt();
    }

    public int getFirst() {
        return interface1.getInt();
    }

    public int getSecond() {
        return interface2.getInt();
    }

    public int getSuperInt() {
        return s.getSuperInt();
    }

    @Override
    public String toString() {
        return "User[s=" + s.toString() + "]";
    }
}
""",
    "multistep.Root": """\
package multistep;

public class Root {

}
""",
    "multistep.Level0": """\
package multistep;

public class Level0 extends Root {

    public int field = 0;

    public int getNumber() {
        return 0;
    }
}
""",
    "multistep.Level1": """\
package multistep;

public class Level1 extends Level0 {

    public int getField1() {
        return field;
    }
}
""",
    "multistep.Level1B": """\
package multistep;

public class Level1B extends Level0 {

}
""",
    "multistep.Level2": """\
package multistep;

public class Level2 extends Level1 {

    public int getField2() {
        return field;
    }

    public int calculate() {
        return getNumber() + 1;
    }
}
""",
    "multistep.Unrelated": """\
package multistep;

public class Unrelated {}
""",
}

PARTIAL_CLASS = ("private int field=0;\n\n"
                 "public boolean isGreaterThanField(int arg) {\n"
                 "    return arg>field;\n}\n")
PARTIAL_METHOD = ("int x = 0;\nif (x + 5 > 10) {\n"
                  "    return doSomething(x);\n} else {\n"
                  "    return null;\n}\n")


def test_botan_example(spark):
    g = CpgGraph(code_docs(spark, [("cpp/botan/0001", "code/cpp",
                                    BOTAN_CPP, 1)]))
    nodes, edges, symbols = g.nodes, g.edges, g.symbols
    # no parse failure on the production-style file
    assert nodes.filter(F.col("label") == "ProblemDeclaration").count() == 0
    # the 4 functions + the __IV global = the reference's 5 top-level
    # declarations (assertEquals(5, declarations.size()))
    fns = {r["name"] for r in nodes.filter(
        F.col("label") == "FunctionDeclaration").collect()}
    assert fns == {"do_crypt", "encrypt", "decrypt", "main"}
    tl_vars = {r["name"] for r in symbols.filter(
        F.col("kind") == "var").collect()}
    assert "__IV" in tl_vars
    # local calls bind: encrypt/decrypt each call do_crypt
    calls = (edges.filter(F.col("pred") == "CALLS")
             .join(nodes.select(F.col("node_id").alias("obj"),
                                F.col("name").alias("callee")), "obj"))
    assert calls.filter(F.col("callee") == "do_crypt").count() == 2
    # main calls encrypt and decrypt
    callees = {r["callee"] for r in calls.collect()}
    assert {"encrypt", "decrypt"} <= callees


def test_demo_hierarchy_corpus(spark):
    g = CpgGraph(code_docs(spark, [(f"java/hier/{n}", "code/java", src, 1)
                                   for n, src in HIERARCHY.items()]))
    nodes, edges, symbols = g.nodes, g.edges, g.symbols
    assert nodes.filter(F.col("label") == "ProblemDeclaration").count() == 0
    recs = {r["name"] for r in symbols.filter(
        F.col("kind") == "record").collect()}
    assert {"Interface", "Implementor1", "Super", "Sub", "Root",
            "Level2"} <= recs
    # the multistep chain closes: Level2 -> Level1 -> Level0 -> Root
    any_resolved, _ = probe_supertypes(nodes, edges)
    closure = supertype_record_closure(nodes, edges, any_resolved)
    anc = {r["ancestor"] for r in closure.filter(
        F.col("descendant") == "Level2").collect()}
    assert {"Level1", "Level0", "Root"} <= anc
    assert "Unrelated" not in anc


def test_demo_partial_snippets(spark):
    """testPartial: class-level and method-level FRAGMENTS (not whole
    compilation units) must parse without crashing — the reference only
    asserts non-null translation units."""
    nodes = CpgGraph(code_docs(spark, [
        ("java/partial/class", "code/java", PARTIAL_CLASS, 1),
        ("java/partial/method", "code/java", PARTIAL_METHOD, 1)])).nodes
    # parse survives; SOME nodes come out of each fragment
    per_doc = {r["doc_id"]: r["n"] for r in nodes.groupBy("doc_id")
               .agg(F.count("*").alias("n")).collect()}
    assert per_doc.get("java/partial/class", 0) > 0
    assert per_doc.get("java/partial/method", 0) > 0


def test_parse_large_initializer_list():
    """PerformanceRegressionTest.testParseLargeList: a 40,001-element
    initializer list on ONE source line parses inside the reference's
    15 s budget (the reference takes ~2.8 s on a good machine; this
    parser does it in ~1 s) and yields one element node per entry —
    pins tokenizer/parser linearity on pathological single-line input."""
    import time

    from cpg_spark.frontends.cfamily_frontend import _parse_cfamily

    src = ("static int my_array[] = {"
           + ", ".join(str(i) for i in range(40001)) + "};")
    t0 = time.time()
    out = _parse_cfamily("c/perf/0001", 1, src, "perf", "cpp")
    dt = time.time() - t0
    assert dt < 15.0, f"{dt:.1f}s"
    assert len(out.nodes) >= 40001
