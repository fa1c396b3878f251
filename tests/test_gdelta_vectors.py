"""Golden vectors for the gdelta encoder.

Each vector is a deterministic (base, target) pair and the ``(length,
sha256)`` of the blob the production encoder emits for it. The blobs were
checked byte-identical to the C++ reference encoder's by the oracle parity
suite, so these vectors hold the byte-identical bar without the reference
checkout: any encoder change that moves a single byte fails here.

Pairs: the first rows of every fixture regime (seed 7) against the regime's
base sequence and against the regime's row 0 (the base the pipeline would
elect), plus every fixed case of ``test_gdelta_codec`` that does not read
repo source files.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys

import numpy as np
import pytest
from conftest import REPO
from test_gdelta_codec import CASES

from gdelta_spark.codecs.gdelta_codec import gdelta_decode
from gdelta_spark.codecs.gdelta_group import gdelta_encode_group
from gdelta_spark.fixtures import REGIMES, base_sequence, make_tokens

ROWS_PER_REGIME = 6


def _tb(tokens) -> bytes:
    return np.asarray(tokens, "<i4").tobytes()


def _pairs() -> dict[str, tuple[bytes, bytes]]:
    pairs = {}
    for regime in REGIMES:
        base = _tb(base_sequence(7, regime))
        rows = [_tb(make_tokens(7, regime, i)) for i in range(ROWS_PER_REGIME)]
        for i, r in enumerate(rows):
            pairs[f"{regime}/base-{i}"] = (base, r)
        for i, r in enumerate(rows[1:], 1):
            pairs[f"{regime}/row0-{i}"] = (rows[0], r)
    for name, base, target in CASES:
        if not name.startswith("ref-pair"):
            pairs[f"case/{name}"] = (base, target)
    return pairs


PAIRS = _pairs()

VECTORS = {
    "near-dup/base-0": (323, "788c198b73a2b580e3079255a2a188ab16f34ae0e3eb9189e9ed52839079eb5e"),
    "near-dup/base-1": (97, "b95c1b4d47af6033877d60b3a5ad081a6ceb4bae77c7a2a5e9fdc2247d8b811b"),
    "near-dup/base-2": (227, "5b03cbd13fc9b0bee0fb3fefca5734b9f88147941a18fb3b79b8c143bea1f437"),
    "near-dup/base-3": (151, "e590c3c31e920dea14f7b10fa7ca356c49cbd00fa61672fb9af18c44dba97e8d"),
    "near-dup/base-4": (32, "5aece5e7875649ab0d64e1beef03899421fd39d3b19560d147bdace1eedf2023"),
    "near-dup/base-5": (130, "8719bd8eadd71cc5b7ecbf8c96120d305a7aff7abb83916eae277082dfb9d0e4"),
    "near-dup/row0-1": (317, "8236b4202ebcb886f3a4df6a6944917f87ea1d563bfc4dad56e5917d220c6dee"),
    "near-dup/row0-2": (448, "6724788799f2b9a8e5b8fbe43108548cbc14a047d3c61afcd9e5c1283b339704"),
    "near-dup/row0-3": (369, "3facd2cbecffa28d5595e36d40cbbc6cad4fd1bfcb7a5e4e15b8741d66d956bb"),
    "near-dup/row0-4": (252, "475b9403a3fd05f7a8182ce33b6a71d7a6c03a3d1e0a9bddb44db204735fb3e5"),
    "near-dup/row0-5": (347, "bdb6994b6d604d1f72fab0818355a0d6734effca07d17b762986d09aa0826224"),
    "runs/base-0": (516, "70ddaf2192d8b4fe24b5d8f7fff8a7f50ddbb158b5e83217dce75b277138bac9"),
    "runs/base-1": (516, "b62f0d4708c572421ff2e9123c47f97dfdae9d6882b9d62821d50401bfdde5b8"),
    "runs/base-2": (7656, "632ed638da5a366d3fdf18559e9653bd12fb63b5bb69ec5f952e3857554fc920"),
    "runs/base-3": (5952, "df4b2b989f61abbe49d95b3d1cf899afaad2eaf8e8db8506a9a6a733ae212258"),
    "runs/base-4": (2332, "ab843fd9ed5d2148ad4410c4066d767f52c83775385b645243fd915096110712"),
    "runs/base-5": (1276, "16148b2c0f6967bdf5b9cde3d0eb038094d241bdc410861e09f85e157a29f7a6"),
    "runs/row0-1": (516, "b62f0d4708c572421ff2e9123c47f97dfdae9d6882b9d62821d50401bfdde5b8"),
    "runs/row0-2": (7656, "632ed638da5a366d3fdf18559e9653bd12fb63b5bb69ec5f952e3857554fc920"),
    "runs/row0-3": (5881, "7a58973bc4e46dd23f1b575a948f84274dac827605219d391314712f17f7223e"),
    "runs/row0-4": (2175, "64c4c91ea05dc8aaa9c3185752f61b7052b9ad0c1bb3b722b494d08fbeeb9783"),
    "runs/row0-5": (1276, "16148b2c0f6967bdf5b9cde3d0eb038094d241bdc410861e09f85e157a29f7a6"),
    "lowcard/base-0": (1772, "c79149c5aa2c0169327f2cb7076f70d3067d82108ec12fc0f643223c4baa71c0"),
    "lowcard/base-1": (920, "219a5b5afa60a69f45920f1ddcacaea7fab2f8e1c40789135b1143853a07d324"),
    "lowcard/base-2": (5424, "13353025339b815c53afb2ca0337a1fb6659ee87b6c22712f9097c812114efc9"),
    "lowcard/base-3": (3264, "3ae2bce8497ac57feb4cf6595d55f72cbc3cc360ed044d5151ba4b68a7da0d90"),
    "lowcard/base-4": (1432, "b98a0c66a1a4204c68edaa5cd6a0dbf7ad81c98b81e3b64e4f021cab7777b819"),
    "lowcard/base-5": (1460, "9f7b4fd9140308f00050f8270a23cd4e6ce4bc789537f748b2a5e22278f674da"),
    "lowcard/row0-1": (920, "219a5b5afa60a69f45920f1ddcacaea7fab2f8e1c40789135b1143853a07d324"),
    "lowcard/row0-2": (5424, "13353025339b815c53afb2ca0337a1fb6659ee87b6c22712f9097c812114efc9"),
    "lowcard/row0-3": (3264, "3ae2bce8497ac57feb4cf6595d55f72cbc3cc360ed044d5151ba4b68a7da0d90"),
    "lowcard/row0-4": (1432, "b98a0c66a1a4204c68edaa5cd6a0dbf7ad81c98b81e3b64e4f021cab7777b819"),
    "lowcard/row0-5": (1460, "9f7b4fd9140308f00050f8270a23cd4e6ce4bc789537f748b2a5e22278f674da"),
    "narrow/base-0": (2804, "f4a59fc83a4ddbc7c0f321a6abbac86f38e3122441fffa7dd23778946d0591cd"),
    "narrow/base-1": (4000, "d37d1bcceca31ed3e8a50d39856203c33b318abd7f43213f33b020f44f6329bb"),
    "narrow/base-2": (5024, "c2e21bbcf2b8e749f5c85b95876ca529bcff0ae321744c084ccfdc6323a14835"),
    "narrow/base-3": (2464, "952018404204bdf5f0b4e26926475ed1780b13235a9de1ca347e1f8ffa3efc5d"),
    "narrow/base-4": (1340, "3d1be3b6679b3da718172e624b73cdada81bbca4bdec11cbaf32cfcc3dd674ef"),
    "narrow/base-5": (4220, "1ea3afa5b7827fc35f768c2cbf2c7390d2d5150285d4972b8b9f7ed8e4af5339"),
    "narrow/row0-1": (4000, "d37d1bcceca31ed3e8a50d39856203c33b318abd7f43213f33b020f44f6329bb"),
    "narrow/row0-2": (5024, "c2e21bbcf2b8e749f5c85b95876ca529bcff0ae321744c084ccfdc6323a14835"),
    "narrow/row0-3": (2464, "952018404204bdf5f0b4e26926475ed1780b13235a9de1ca347e1f8ffa3efc5d"),
    "narrow/row0-4": (1340, "3d1be3b6679b3da718172e624b73cdada81bbca4bdec11cbaf32cfcc3dd674ef"),
    "narrow/row0-5": (4220, "1ea3afa5b7827fc35f768c2cbf2c7390d2d5150285d4972b8b9f7ed8e4af5339"),
    "texty/base-0": (3388, "80c326a87b93a7ce866e6906d693a9509576e9ed4fbc12f48fde979dfeeaf890"),
    "texty/base-1": (1364, "62a92bfe1bd91e3a22eb7efcaf32535ae25b1d367b271b60958c3e031ef279d2"),
    "texty/base-2": (1440, "fd06fbeb0a4b8789b81eb90f75fd8274a5779e14fccf000eeed17588a3ae300c"),
    "texty/base-3": (720, "14801b70248b2c646175f1b8fec80b19422156914eafd033dd0810916714ed9c"),
    "texty/base-4": (2636, "1ded67b89d0bc34f1820c2d3916c9a07d7060e810fa930fd7fe99093e8f93a85"),
    "texty/base-5": (16388, "54f827cca8514ffa8f78c7b3568071e28867db630ebae5e4979d30b57fd2b92b"),
    "texty/row0-1": (230, "03be0bc5b089f709818532a564dce9de84b8699f6fbd1d14f984a92de11fa471"),
    "texty/row0-2": (220, "fd66e728f68ececa1b72f686e9674f187ec550b4551d406d6b1490ecb0a41eca"),
    "texty/row0-3": (122, "f5bca10ad1f2099d62ffbfb5b5b7aa904a30c02976aa910fe8ecf951211f7d47"),
    "texty/row0-4": (449, "c723a4bf2bbebfd0eea012a62b1c4ed859dbe0b7b02c988bc246370ccd145c95"),
    "texty/row0-5": (2586, "6919c61fb02569435038c6a9d4b0c025db6eeb1bfe2da1eee02c791ad0a9592c"),
    "random/base-0": (3080, "ffba25262de25323e42d0f102d7dabf19808d72744eacf9e16ecd18dab54548e"),
    "random/base-1": (5388, "e0d7c2be17c95cc9c2be9c66496bca5d8ae466ee56f5ed74938b3558c96358d8"),
    "random/base-2": (692, "0951d3605dc6730f1759cf29c313719e5faeaf8cc15effd43a3be1b80ff8a7bb"),
    "random/base-3": (2912, "250d0a9f9e809d1090384ce1bfd0ea1d0a4820991e7e8a82506372a53553999f"),
    "random/base-4": (2940, "2434efbea69bbe24869f2cdbbfa32deeb6cdc494eb6fb5e1c36b0064837e80e9"),
    "random/base-5": (3420, "466c34854e04d921d3c7192ff5ff8bba0321b7d81b0d6d97629bfdb15ea36f74"),
    "random/row0-1": (5388, "e0d7c2be17c95cc9c2be9c66496bca5d8ae466ee56f5ed74938b3558c96358d8"),
    "random/row0-2": (692, "0951d3605dc6730f1759cf29c313719e5faeaf8cc15effd43a3be1b80ff8a7bb"),
    "random/row0-3": (2912, "250d0a9f9e809d1090384ce1bfd0ea1d0a4820991e7e8a82506372a53553999f"),
    "random/row0-4": (2940, "2434efbea69bbe24869f2cdbbfa32deeb6cdc494eb6fb5e1c36b0064837e80e9"),
    "random/row0-5": (3420, "466c34854e04d921d3c7192ff5ff8bba0321b7d81b0d6d97629bfdb15ea36f74"),
    "mixed-dup/base-0": (24608, "aa30b280cbbb7e93899c4d794f3f1b84ff712c4149b534bda5b225c005c94172"),
    "mixed-dup/base-1": (24556, "9dd0cae01af113bd425ffb2367de65a7ca40bebf182dc7b914753da6fa7cb644"),
    "mixed-dup/base-2": (24616, "24c99223b564aa3165a8cb2a8c17d9937a8c154613a19d85e418acf6a11d6372"),
    "mixed-dup/base-3": (24604, "6f4eebff50240b7ae12f0a99b965b70fbc9b2af6260e910c38c2b8aaad56dc0b"),
    "mixed-dup/base-4": (24556, "aa5bb46ac27c849875bab04ca46902f019332b37db868e30c091e5d9ddf0ff62"),
    "mixed-dup/base-5": (24696, "5d9be2bce2811696f1b466ae149e680bca100a99d38d22debe02ee66b27dd79f"),
    "mixed-dup/row0-1": (24556, "9dd0cae01af113bd425ffb2367de65a7ca40bebf182dc7b914753da6fa7cb644"),
    "mixed-dup/row0-2": (24616, "24c99223b564aa3165a8cb2a8c17d9937a8c154613a19d85e418acf6a11d6372"),
    "mixed-dup/row0-3": (24604, "6f4eebff50240b7ae12f0a99b965b70fbc9b2af6260e910c38c2b8aaad56dc0b"),
    "mixed-dup/row0-4": (24556, "aa5bb46ac27c849875bab04ca46902f019332b37db868e30c091e5d9ddf0ff62"),
    "mixed-dup/row0-5": (24696, "5d9be2bce2811696f1b466ae149e680bca100a99d38d22debe02ee66b27dd79f"),
    "monotonic/base-0": (16388, "15857c5773533f5f461b2ad3e0ed58e91156c6a6bc8d554df0df27e22910a16b"),
    "monotonic/base-1": (4272, "b51703ac9ae46242b9d38b2e816466ab097fd333e06ba64bd06282703597890f"),
    "monotonic/base-2": (776, "9bbbadb7a94cd4127cab370e602b84fcfd5da786b214ec3ddba193a399cdc5f6"),
    "monotonic/base-3": (8256, "64e64b16d40255c3095376e6ae25ef6849075c2f8111b7a2ec6a1ce65cd3566a"),
    "monotonic/base-4": (7328, "6575a70aa1c2ec7dffd1a7531db2ea3be3e91b41f11131b659544e909d4e33da"),
    "monotonic/base-5": (6356, "ff3fc7db03a6d8c9e2cced5caea591d52773cb30eece2750773c24032d0708bb"),
    "monotonic/row0-1": (4272, "b51703ac9ae46242b9d38b2e816466ab097fd333e06ba64bd06282703597890f"),
    "monotonic/row0-2": (776, "9bbbadb7a94cd4127cab370e602b84fcfd5da786b214ec3ddba193a399cdc5f6"),
    "monotonic/row0-3": (8256, "64e64b16d40255c3095376e6ae25ef6849075c2f8111b7a2ec6a1ce65cd3566a"),
    "monotonic/row0-4": (7328, "6575a70aa1c2ec7dffd1a7531db2ea3be3e91b41f11131b659544e909d4e33da"),
    "monotonic/row0-5": (6356, "ff3fc7db03a6d8c9e2cced5caea591d52773cb30eece2750773c24032d0708bb"),
    "case/identical": (5, "7c4850a2d212f8f8a8f4711827682f9a915ea771ee097ddf313e1db39a10a0c5"),
    "case/empty-target": (1, "6e340b9cffb37a989ca544e6bb780a2c78901d3fb33738768511a30617afa01d"),
    "case/empty-base": (5004, "4d80cc2e4ad26be265ff73f43123cae274a873e676a6878a4e0051d893135351"),
    "case/both-empty": (1, "6e340b9cffb37a989ca544e6bb780a2c78901d3fb33738768511a30617afa01d"),
    "case/target-in-base": (5, "b0d2e59594780e74b05126214edb8dad09a03ac57ab49f1d1fe5fa4bca87552d"),
    "case/base-in-target": (2110, "4b4e95944278f4a2b3dc575c9b388cf15fea25478994e05e87bf5cba830e8efd"),
    "case/tiny": (7, "9c83b43e2152c367c63591bd1a49cdf86b31d7663e74a2456deb5705b802bc17"),
    "case/below-strlook": (17, "29a7d8537bb08a34abc847820c6108bf1c8257adac5663ea4202192edb4efd71"),
    "case/prefix-17": (106, "02127c5d223e212e00c8416d62de9ba6d9917d3f142420e70751d6b03b560ee6"),
    "case/prefix-16": (119, "faa1b9bb377d6b5a42f65846629f8a3e7af7a0538b3f44604fda6f1616782e44"),
    "case/suffix-17": (106, "69ac09c0a81be9bec98941331da761e018f79ac7d2af9565f43cd45f1ad70856"),
    "case/suffix-16": (106, "b200206279641140fcd1463a6e002915b178aded4bf5ff737ec60dcba3a180aa"),
    "case/texty": (18, "c06b28775585344a8e40ebb266306a720738664c3fb8df3db153fe4852b0d055"),
    "case/runs": (513, "7ed2fbed61d21c10b072e639f5ee1b3aba937e71ff259ad42eb3bd762be25ce4"),
    "case/random-vs-random": (20004, "f47632927fc5ccdd0ac8ffe13aec9f3380937afb1b35e0f3433df467e5867f00"),
    "case/near-dup-0": (115, "aa7eb91203fa671167c41826a0dc7b589b0f0a8a4a2900032f8bc754afb98955"),
    "case/near-dup-1": (431, "7b19834ada63ccb117fba59a6b67305fddcef556a534751d12475bf673cb7b55"),
    "case/near-dup-2": (357, "72dcd4cc93846512d1a597d4791a3e32635c5f0a8f9cf1717a5683833efb0c5f"),
    "case/near-dup-3": (44, "9c05e6f7a972715ce3d638b88a98f354913c667ec04e29e1e08d2b154150faf2"),
    "case/near-dup-4": (330, "8ef307937334dbcfefa926c4a2ad6f3068d2c8661245bd214bdb79ed713a2a1e"),
    "case/near-dup-5": (30, "5c0b52c0324a41218c7db62b888f4eae04cb3d77293194fd4c21aad55f5f7433"),
    "case/near-dup-6": (85, "fb77c5222445cec1efbfd511723f38126e5ea729c98f75712449df2541dc23e6"),
    "case/near-dup-7": (74, "3f51c320ca0b7f5caa9d69596704080d64895a442e8b196aba5d029ab0f2c4a1"),
    "case/near-dup-8": (53, "53977e120992dbea173fb84cecb5fb902d1bd5a05d5740050b98d26a009aa04d"),
    "case/near-dup-9": (123, "6542b7ac7a70a1b1dec67c502478d1e3206f1afeba8f3d901b7806825b7a9896"),
}


def _digest(blob: bytes) -> tuple[int, str]:
    return len(blob), hashlib.sha256(blob).hexdigest()


def test_vectors_cover_every_pair():
    assert sorted(VECTORS) == sorted(PAIRS)


@pytest.mark.parametrize("name", sorted(PAIRS))
def test_golden_vector(name):
    base, target = PAIRS[name]
    blob = gdelta_encode_group([target], base)[0]
    assert _digest(blob) == VECTORS[name]
    assert gdelta_decode(blob, base) == target


@pytest.mark.parametrize("regime", REGIMES)
def test_golden_vectors_as_one_group(regime):
    """The same rows encoded together as one group (one shared base index,
    lockstep rounds) emit the same blobs as one row at a time."""
    names = [f"{regime}/base-{i}" for i in range(ROWS_PER_REGIME)]
    base = PAIRS[names[0]][0]
    blobs = gdelta_encode_group([PAIRS[n][1] for n in names], base)
    assert [_digest(b) for b in blobs] == [VECTORS[n] for n in names]


def test_cli_roundtrip(tmp_path):
    """``jobs/gdelta_cli.py -e`` writes the golden blob for a fixture pair,
    and ``-d`` restores the target from it."""
    name = "near-dup/base-1"
    base, target = PAIRS[name]
    bp, tp, dp, op = (tmp_path / n for n in ("base", "target", "delta", "out"))
    bp.write_bytes(base)
    tp.write_bytes(target)
    cli = [sys.executable, str(REPO / "jobs" / "gdelta_cli.py")]
    subprocess.run([*cli, "-e", "-o", str(dp), str(bp), str(tp)], check=True)
    assert _digest(dp.read_bytes()) == VECTORS[name]
    subprocess.run([*cli, "-d", "-o", str(op), str(bp), str(dp)], check=True)
    assert op.read_bytes() == target
